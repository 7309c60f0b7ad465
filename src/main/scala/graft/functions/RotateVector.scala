package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd dense matrix–vector rotation over an Array[Float] column
  * (SURVEY.md H14): out_j = (Σ_i x_i · w(j)(i)).toFloat, the OPQ/PCA
  * projection (D13/D14) as ONE fused loop.
  *
  * The higher-order-function spelling (transform ∘ aggregate ∘ zip_with)
  * is interpreted per element — boxed lambda variables, one allocated
  * zipped array per output coordinate — and CollapseProject re-evaluates
  * it wherever the rotated column is referenced: measured ~50 s to rotate
  * 2 000 × 64-dim vectors on local[32], i.e. the OPQ write path spent its
  * entire budget in expression overhead. This expression is d² fused
  * multiply-adds inside whole-stage codegen (the weight matrix rides
  * along as ONE plan reference object, like a broadcast dim).
  *
  * Arithmetic shape is BIT-IDENTICAL to the HOF spelling it replaces:
  * per output j, accumulate x_i(float→double) · w_ji ascending i from
  * 0.0, cast the sum to float — so every spec and artifact pinned under
  * the old spelling is unchanged. Weights are ROW-major per OUTPUT
  * coordinate: w(j) is the coefficient vector of out_j (a caller rotating
  * by eigenvector matrix R passes w(j)(i) = R(i)(j), optionally folding
  * whitening scales in — rotateEmbeddings' contract). A vector whose
  * length differs from d yields NULL (the CosineSimilarity ragged
  * contract), never a silently-truncated projection.
  *
  * Element-null contract: inputs are assumed containsNull=false (every
  * embeddings column this engine produces or reads is). Elements are
  * read via getFloat without isNullAt — the CosineSimilarity convention
  * — so a malformed array with null slots contributes 0.0 where the HOF
  * spelling would have propagated NULL; the "bit-identical" claim above
  * is scoped to null-free arrays.
  *
  * Keeps hand-written codegen (not a [[StaticCall]]): its loop is
  * generated inline over the input arrays, with no method call per row.
  */
case class RotateVector(child: Expression, weights: Array[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {

  require(weights.nonEmpty && weights.forall(_.length == weights.head.length),
    "weights must be a non-empty rectangular matrix")

  private val d = weights.length
  private val dIn = weights.head.length

  override def inputTypes = Seq(ArrayType(FloatType))

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "rotate_vector"

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    if (x.numElements() != dIn) return null
    val out = new Array[Float](d)
    var j = 0
    while (j < d) {
      val w = weights(j)
      var acc = 0.0
      var i = 0
      while (i < dIn) {
        acc += x.getFloat(i).toDouble * w(i)
        i += 1
      }
      out(j) = acc.toFloat
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("rotWeights", weights, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val acc = ctx.freshName("acc")
      val w = ctx.freshName("w")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
        if ($a.numElements() != $dIn) {
          ${ev.isNull} = true;
        } else {
          float[] $out = new float[$d];
          for (int $j = 0; $j < $d; $j++) {
            double[] $w = $wRef[$j];
            double $acc = 0.0;
            for (int $i = 0; $i < $dIn; $i++) {
              $acc += ((double) $a.getFloat($i)) * $w[$i];
            }
            $out[$j] = (float) $acc;
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
        }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): RotateVector =
    copy(child = newChild)
}

object RotateVector {
  /** Column entry point: rotate `v` by output-major weights `w`. */
  def apply(v: Column, w: Array[Array[Double]]): Column =
    GraftColumnBridge.column(RotateVector(GraftColumnBridge.expression(v), w))
}
