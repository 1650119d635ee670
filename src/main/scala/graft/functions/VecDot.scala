// Hosted under org.apache.spark.sql so the expression can use the
// private[sql] ExpectsInputTypes/ExpressionUtils surface — the standard
// pattern for third-party native expressions. Public API re-exported from
// graft.functions.VecDot below.
package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd float-vector dot product:
  * `acc += (double) a[i] * (double) b[i]`, left to right.
  *
  * This is the hot inner loop of every embedding operator (cosine top-k,
  * IVF probe, near-dup). The `zip_with`+`aggregate` spelling allocates an
  * intermediate array and evaluates interpreted lambda calls per element —
  * higher-order functions don't participate in whole-stage codegen. This
  * expression generates a primitive loop instead (~dim× fewer virtual
  * calls, zero allocation) while keeping the exact left-to-right double
  * accumulation order, so results stay bit-identical to the fold and to
  * DuckDB's list_reduce oracle.
  *
  * Null semantics match zip_with+aggregate: a null element poisons the
  * whole sum to null.
  */
case class VecDotExpr(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  // can produce null from non-null inputs (null element, mismatched
  // lengths) — without this override two non-nullable children would
  // claim non-nullable and nullSafeCodeGen would emit `false = true;`
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    // zip_with null-pads the shorter array, poisoning the sum → null;
    // match that instead of silently truncating to min(len)
    if (xs.numElements() != ys.numElements()) return null
    val n = xs.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      acc += xs.getFloat(i).toDouble * ys.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |double $acc = 0.0;
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  int $n = $a.numElements();
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
}

object VecDotExpr {
  def column(a: Column, b: Column): Column =
    ExpressionUtils.column(
      VecDotExpr(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}

/** Column ⇄ Expression bridge for code outside the sql package tree
  * (ExpressionUtils is private[sql]).
  *
  * `toExpressionEager` runs the full ColumnNode→catalyst conversion up
  * front instead of the lazy ColumnNodeExpression wrapper — required when
  * the expression is spliced into a plan by a FunctionBuilder, where the
  * wrapper would stay opaque to the optimizer (blocking predicate
  * pushdown).
  */
object ExprBridge {
  def toExpressionEager(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
}
