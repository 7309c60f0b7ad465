package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd random-hyperplane LSH bucket of an Array[Float] embedding
  * (SURVEY.md H-pack): `planes` sign bits of deterministic ±1-weighted
  * projections, packed into a long.
  *
  * Bit-compatible with the higher-order spelling in
  * [[graft.operators.Similarity.rhpBucketHof]]: plane p / dim i weight is
  * +1 iff xxhash64(p*1000003 + i) is even (seed 42, Spark's XXH64), and
  * the projection accumulates left-to-right in double. The HOF version
  * evaluates interpreted per element; this is one fused codegen loop.
  *
  * Keeps hand-written codegen (not a [[StaticCall]]): its loop is
  * generated inline over the input arrays, with no method call per row.
  */
case class RandomHyperplaneBucket(child: Expression, planes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(planes >= 1 && planes <= 64, "planes must be in [1, 64]")

  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def prettyName: String = "rhp_bucket"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    var bits = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0
      var i = 0
      while (i < n) {
        val sign = if ((XXH64.hashLong(p * 1000003L + i, 42L) & 1L) == 0L) 1.0 else -1.0
        proj += v.getFloat(i).toDouble * sign
        i += 1
      }
      if (proj >= 0) bits |= 1L << p
      p += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val xxh = classOf[XXH64].getName
      val bits = ctx.freshName("bits")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val proj = ctx.freshName("proj")
      val sign = ctx.freshName("sign")
      s"""
        long $bits = 0L;
        int $n = $v.numElements();
        for (int $p = 0; $p < $planes; $p++) {
          double $proj = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $sign = (($xxh.hashLong($p * 1000003L + $i, 42L) & 1L) == 0L) ? 1.0 : -1.0;
            $proj += (double) $v.getFloat($i) * $sign;
          }
          if ($proj >= 0) $bits |= 1L << $p;
        }
        ${ev.value} = $bits;
      """
    })

  override protected def withNewChildInternal(newChild: Expression): RandomHyperplaneBucket =
    copy(child = newChild)
}

object RandomHyperplaneBucket {
  def apply(v: Column, planes: Int): Column =
    GraftColumnBridge.column(RandomHyperplaneBucket(GraftColumnBridge.expression(v), planes))
}
