package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** |A ∩ B| for two SORTED, de-duplicated Array[Long] columns via a linear
  * merge walk — no per-row hash-set allocation, fully codegen'd. The
  * built-in array_intersect builds a hash set per evaluation, which
  * dominates set-similarity joins with hundreds of thousands of pairs.
  * Caller contract: both arrays ascending + distinct (sort_array over
  * array_distinct).
  *
  * Keeps hand-written codegen (not a [[StaticCall]]): its loop is
  * generated inline over the input arrays, with no method call per row.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val n = ctx.freshName("n")
      val m = ctx.freshName("m"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        int $n = $a.numElements(); int $m = $b.numElements();
        int $i = 0; int $j = 0; int $c = 0;
        while ($i < $n && $j < $m) {
          long $xv = $a.getLong($i); long $yv = $b.getLong($j);
          if ($xv < $yv) { $i++; } else if ($xv > $yv) { $j++; }
          else { $c++; $i++; $j++; }
        }
        ${ev.value} = $c;
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectSize(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
