package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd squared Euclidean distance over two Array[Float] columns
  * (SURVEY.md H14's sibling): Σ (x_i − y_i)² as one fused loop — the L2
  * subquantizer objective (Jégou et al. 2011) on the OPQ train/encode hot
  * path, where the HOF spelling (aggregate ∘ zip_with) pays interpreted
  * per-element lambda overhead on every (subvector × centroid) pair.
  *
  * Arithmetic shape is bit-identical to the HOF fold it replaces:
  * ascending i, (x_i(float→double) − y_i(float→double))² accumulated
  * left-to-right from 0.0. Mismatched lengths yield NULL (the
  * CosineSimilarity ragged contract).
  *
  * Element-null contract: inputs are assumed containsNull=false (the
  * engine's embedding columns are); elements are read via getFloat
  * without isNullAt — the CosineSimilarity convention — so null slots
  * in malformed arrays read as 0.0 where the HOF spelling would have
  * propagated NULL. The bit-identical claim is scoped to null-free
  * arrays.
  *
  * Keeps hand-written codegen (not a [[StaticCall]]): its loop is
  * generated inline over the input arrays, with no method call per row.
  */
case class SquaredDistance(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "squared_distance"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $dd = ((double) $a.getFloat($i)) - ((double) $b.getFloat($i));
            $acc += $dd * $dd;
          }
          ${ev.value} = $acc;
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredDistance =
    copy(left = newLeft, right = newRight)
}

object SquaredDistance {
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(SquaredDistance(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
