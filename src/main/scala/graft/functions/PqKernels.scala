// Hosted under org.apache.spark.sql so the expression can use the
// private[sql] ExpressionUtils surface — same pattern as VecDot.scala.
// Public API re-exported from graft.functions (TextExprsApi.scala).
package org.apache.spark.sql.graftexpr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** A collected PQ codebook set compiled for the per-row LUT kernel:
  * books(s) = the (cell, centroid) pairs of subspace s, cell-ascending,
  * centroids of length `subdim`. Cells the trainer dropped are absent —
  * their LUT slots stay null (they are never assigned, so the slot is
  * never read).
  *
  * A case class over Seqs so two independently-collected but identical
  * models compare equal — expression equality is what lets Catalyst's
  * common-subexpression elimination unify repeated kernel calls.
  */
final case class PqLutModel(m: Int, k: Int, subdim: Int,
    books: Seq[Seq[(Int, Seq[Double])]]) extends Serializable {

  /** slot-indexed dense form: dense(s·k + c) = centroid, null if dropped. */
  @transient private lazy val dense: Array[Array[Double]] = {
    val d = new Array[Array[Double]](m * k)
    for ((book, s) <- books.zipWithIndex; (c, arr) <- book)
      if (c >= 0 && c < k) d(s * k + c) = arr.toArray
    d
  }

  /** The full m·k ADC lookup table of one embedding:
    * lut[s·k + c] = Σ_i ((double) emb[s·subdim + i] − centroid[i])²,
    * folded i-ascending — the identical arithmetic (and fold order) of the
    * per-slot `l2sq(slice(emb, s·subdim+1, subdim), lit(centroid))`
    * spelling this kernel replaces, so every slot is bit-equal. Slot is
    * null when the codeword was dropped, when the subspace slice runs past
    * the embedding's length (slice+l2sq length-mismatch semantics), or when
    * any element of the slice is null.
    */
  def lut(emb: ArrayData): ArrayData = {
    val len = emb.numElements()
    val out = new Array[Any](m * k)
    var s = 0
    while (s < m) {
      val base = s * subdim
      // a short slice length-mismatches every codeword of this subspace
      val sliceOk = base + subdim <= len
      var c = 0
      while (c < k) {
        val cent = dense(s * k + c)
        if (cent != null && sliceOk) {
          var acc = 0.0
          var i = 0
          var nullElem = false
          while (i < subdim && !nullElem) {
            if (emb.isNullAt(base + i)) nullElem = true
            else {
              val d = emb.getFloat(base + i).toDouble - cent(i)
              acc += d * d
            }
            i += 1
          }
          if (!nullElem) out(s * k + c) = acc
        }
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** pq_lut(emb): the dense sub-major m·k ADC lookup table as ONE codegen'd
  * pass over the embedding. The per-slot column spelling re-sliced the
  * embedding (allocating a sub-array) and re-entered a separate l2sq loop
  * for each of the m·k slots — and on the residual path the whole
  * residual-dispatch CASE tree was textually duplicated into every slot.
  * With the kernel the child (raw embedding or residual) is evaluated
  * once per row and the table filled in a single m·k·subdim loop.
  * For a non-null embedding, arithmetic, fold order and per-slot null
  * semantics are slot-for-slot identical. A NULL embedding is the one
  * difference: the kernel is null-safe and returns a NULL lut, where the
  * column spelling builds an array of m·k null slots. Its one consumer,
  * [[PqAdcExpr]], returns null for either (a null lut, or a null slot
  * at any code). Parity, including that row, is pinned in
  * HashKernelsSpec.
  */
case class PqLutExpr(child: Expression, model: PqLutModel)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "pq_lut"

  override def nullSafeEval(in: Any): Any =
    model.lut(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val mdl = ctx.addReferenceObj("pqLutModel", model,
        classOf[PqLutModel].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $mdl.lut($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

object PqLutExpr {
  def column(emb: Column, model: PqLutModel): Column =
    ExpressionUtils.column(
      PqLutExpr(ExpressionUtils.expression(emb), model))
}
