package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native kernel for [[graft.ops.TaOps.taSnapshot]]'s per-series fold —
  * the r18 optimization of the interpreted Catalyst
  * `transform`/`aggregate`/`filter` chain (higher-order lambdas evaluate
  * interpreted and allocate a 6-field struct per element; measured ~1.1 s
  * of single-task wall per snapshot at sf0.1's 100k-tick series, vs ~30 ms
  * for this kernel — and the fold IS the operator's entire per-byte cost
  * at scale).
  *
  * Bit-identical by construction to the declarative fold it replaces
  * (kept test-side as `ParityTwins.taSnapshotDeclarative`; parity pinned
  * by TaOpsSpec, oracle replay unchanged):
  *  - same IEEE op ORDER per element: u = greatest(v - prev, 0),
  *    dn = greatest(prev - v, 0), ef' = aF·v + (1-aF)·ef,
  *    es' = aS·v + (1-aS)·es, m = ef' - es', sig' = aG·m + (1-aG)·sig,
  *    au' = first-delta-seeded Wilder, ad' likewise — every multiply/add
  *    in the exact literal arrangement of the Catalyst expressions;
  *  - same three-valued-logic null propagation (a null operand nulls the
  *    arithmetic result) and the same `greatest` null rule (greatest
  *    SKIPS nulls — greatest(null, 0.0) = 0.0) and NaN rule (NaN is
  *    greatest);
  *  - SMA sum = left fold from 0.0 over the last min(n, smaN) elements;
  *  - VWAP sums = left folds from 0.0 over elements with
  *    t >= lastT - vwapMicros (a null comparison excludes the element;
  *    a null lastT empties the window, leaving the 0.0 inits — exactly
  *    `filter` + `aggregate` semantics).
  *
  * Input: the array_sort'ed collect_list array of struct<t timestamp,
  * v double, w double>. Output struct (all nullable doubles):
  * (ef, es, sig, au, ad, sma_sum, sum_pv, sum_w).
  */
object TaFoldKernel {
  private def add(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null || b == null) null else java.lang.Double.valueOf(a + b)
  private def sub(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
    if (a == null || b == null) null else java.lang.Double.valueOf(a - b)
  private def mul(a: Double, b: java.lang.Double): java.lang.Double =
    if (b == null) null else java.lang.Double.valueOf(a * b)
  /** Spark `greatest(x, 0.0)`: skips nulls; NaN compares greatest. */
  private def gz(a: java.lang.Double): java.lang.Double =
    if (a == null) java.lang.Double.valueOf(0.0)
    else if (java.lang.Double.compare(a, 0.0) >= 0) a
    else java.lang.Double.valueOf(0.0)

  def taFold(arr: ArrayData, aF: Double, aS: Double, aG: Double,
             aW: Double, smaN: Int, vwapMicros: Long): InternalRow = {
    val n = arr.numElements()
    // element accessors — a null element behaves as all-null fields
    // (collect_list never emits null elements; belt and braces)
    def tAt(i: Int): java.lang.Long = {
      if (arr.isNullAt(i)) return null
      val r = arr.getStruct(i, 3)
      if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
    }
    def vAt(i: Int): java.lang.Double = {
      if (arr.isNullAt(i)) return null
      val r = arr.getStruct(i, 3)
      if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
    }
    def wAt(i: Int): java.lang.Double = {
      if (arr.isNullAt(i)) return null
      val r = arr.getStruct(i, 3)
      if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2))
    }

    // indicator fold: first element IS the init state (ef/es seeded at
    // x_1, signal at MACD_1 = 0, Wilder averages null until first delta)
    var prev = vAt(0)
    var ef = prev
    var es = prev
    var sig: java.lang.Double = java.lang.Double.valueOf(0.0)
    var au: java.lang.Double = null
    var ad: java.lang.Double = null
    val cF = 1 - aF; val cS = 1 - aS; val cG = 1 - aG; val cW = 1 - aW
    var i = 1
    while (i < n) {
      val v = vAt(i)
      val u = gz(sub(v, prev))
      val dn = gz(sub(prev, v))
      val ef2 = add(mul(aF, v), mul(cF, ef))
      val es2 = add(mul(aS, v), mul(cS, es))
      val m = sub(ef2, es2)
      val sg2 = add(mul(aG, m), mul(cG, sig))
      au = if (au == null) u else add(mul(aW, u), mul(cW, au))
      ad = if (ad == null) dn else add(mul(aW, dn), mul(cW, ad))
      prev = v; ef = ef2; es = es2; sig = sg2
      i += 1
    }

    // SMA: left fold from 0.0 over the last min(n, smaN) elements
    var smaSum: java.lang.Double = java.lang.Double.valueOf(0.0)
    i = math.max(n - smaN, 0)
    while (i < n) { smaSum = add(smaSum, vAt(i)); i += 1 }

    // VWAP window sums: t >= lastT - vwapMicros; null lastT or null t
    // excludes (three-valued >=), leaving the 0.0 fold inits
    val lastT = if (n == 0) null else tAt(n - 1)
    var sumPV: java.lang.Double = java.lang.Double.valueOf(0.0)
    var sumW: java.lang.Double = java.lang.Double.valueOf(0.0)
    if (lastT != null) {
      val cutoff = lastT.longValue() - vwapMicros
      i = 0
      while (i < n) {
        val t = tAt(i)
        if (t != null && t.longValue() >= cutoff) {
          val v = vAt(i)
          val w = wAt(i)
          val pv = if (v == null || w == null) null
            else java.lang.Double.valueOf(v * w)
          sumPV = add(sumPV, pv)
          sumW = add(sumW, w)
        }
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](ef, es, sig, au, ad,
      smaSum, sumPV, sumW))
  }
}

/** ta_fold(series, aF, aS, aG, aW, smaN, vwapMicros):
  * struct(ef, es, sig, au, ad, sma_sum, sum_pv, sum_w) — see
  * [[TaFoldKernel.taFold]].
  */
case class TaFold(child: Expression, aF: Double, aS: Double, aG: Double,
                  aW: Double, smaN: Int, vwapMicros: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fs), _) if fs.length == 3 &&
        fs(0).dataType.isInstanceOf[TimestampType] &&
        fs(1).dataType.isInstanceOf[DoubleType] &&
        fs(2).dataType.isInstanceOf[DoubleType] =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"ta_fold expects array<struct<timestamp,double,double>>, got ${dt.sql}")
  }
  override def dataType: DataType = StructType(
    Seq("ef", "es", "sig", "au", "ad", "sma_sum", "sum_pv", "sum_w")
      .map(StructField(_, DoubleType, nullable = true)))
  override def prettyName: String = "ta_fold"

  override def nullSafeEval(a: Any): Any =
    TaFoldKernel.taFold(a.asInstanceOf[ArrayData], aF, aS, aG, aW,
      smaN, vwapMicros)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TaFoldKernel.taFold($c, $aF, $aS, " +
        s"$aG, $aW, $smaN, ${vwapMicros}L);")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object TaFoldFunctions {
  def ta_fold(series: Column, aF: Double, aS: Double, aG: Double,
              aW: Double, smaN: Int, vwapMicros: Long): Column =
    Bridge.column(TaFold(Bridge.expression(series), aF, aS, aG, aW,
      smaN, vwapMicros))
}
