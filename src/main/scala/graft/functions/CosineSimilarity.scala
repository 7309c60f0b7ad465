package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd cosine similarity over two Array[Float] columns (SURVEY.md H1).
  *
  * The higher-order-function spelling (VectorFunctions.cosine) materializes
  * an intermediate product array per row and walks each array three times;
  * this expression is one fused loop inside whole-stage codegen — the hot
  * path for 100 TB ANN / near-dup scans.
  *
  * Arithmetic shape (interleaved adds into dot/na/nb, final
  * dot / sqrt(na * nb)) is bit-identical to both the HOF spelling and the
  * DuckDB oracle's list_reduce fold, so it can serve oracle-checked queries.
  *
  * Keeps hand-written codegen (not a [[StaticCall]]): its loop is
  * generated inline over the input arrays, with no method call per row.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // return type left inferred: AbstractDataType is private[sql]
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  // Mismatched-length inputs yield NULL (not a silently-truncated score),
  // matching the oracle's list_zip NULL-poisoning on ragged pairs — a
  // malformed embedding surfaces as null instead of a plausible number.
  override def nullable: Boolean = true

  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $dot = 0.0, $na = 0.0, $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $x = (double) $a.getFloat($i);
            double $y = (double) $b.getFloat($i);
            $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
          }
          ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-level entry point: `cosineFast($"a", $"b")`. */
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimilarity(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
