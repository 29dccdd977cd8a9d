package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Custom Catalyst expressions for the quantized-vector hot path
  * (optimization round 18, guide §4 "eliminate non-codegen
  * expressions"): exact integer dot product and squared L2 distance
  * over two `array<bigint>` columns in ONE per-row loop.
  *
  * Replaces the `aggregate(zip_with(a, b, _*_), 0L, _+_)` composition:
  * higher-order functions are CodegenFallback — every evaluation
  * allocates a lambda frame per element and boxes every long — and
  * the ANN family evaluates one fold per (vector × centroid/codeword)
  * probe, which made the interpreted fold the family's dominant
  * executor-cpu cost (the assignment legs spent 12-20 cpu-s at
  * sf0.1 with shuffle near zero). As native expressions the
  * loop runs on unboxed primitives inside whole-stage codegen.
  *
  * Semantics are bit-identical to the composed form on the family's
  * inputs (equal-length arrays of non-null quantized longs; products
  * and sums stay far inside Long range): same products, same
  * left-to-right summation, wrap-on-overflow identical. For the
  * composed form's null/ragged edge cases — either array null, a null
  * element, or unequal lengths (zip_with pads with nulls, so the
  * fold yields NULL) — these expressions return NULL the same way.
  */
abstract class QVecFold extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  protected def computeName: String

  override def nullSafeEval(a: Any, b: Any): Any =
    fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  protected def fold(a: ArrayData, b: ArrayData): Any

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Long $boxed = graft.plans.QVecExpressions.$computeName($a, $b);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
}

case class QDotExpression(left: Expression, right: Expression)
    extends QVecFold {
  override def prettyName: String = "qdot_native"
  override protected def computeName: String = "qdot"
  override protected def fold(a: ArrayData, b: ArrayData): Any =
    QVecExpressions.qdot(a, b)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

case class QDistExpression(left: Expression, right: Expression)
    extends QVecFold {
  override def prettyName: String = "qdist_native"
  override protected def computeName: String = "qdist"
  override protected def fold(a: ArrayData, b: ArrayData): Any =
    QVecExpressions.qdist(a, b)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object QVecExpressions {

  /** Exact integer dot product; null on ragged/null-element input
    * (the zip_with-pad contract).
    */
  def qdot(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** Exact integer squared L2 distance; null contract as [[qdot]]. */
  def qdist(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  def qdotCol(a: Column, b: Column): Column =
    ColumnBridge.column(QDotExpression(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def qdistCol(a: Column, b: Column): Column =
    ColumnBridge.column(QDistExpression(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
