package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Identity wrapper marked NON-deterministic — the optimization guide's
  * §4.4 lever, generalized from UDFs to expensive built-in expression
  * trees: Catalyst pushes deterministic predicates below joins and
  * inlines deterministic projections into every consumer, which for an
  * expensive derived column (a 10-regex HTML extraction, say) means the
  * whole tree is re-evaluated once per reference — and a filter on it
  * gets pushed BELOW the selective join that was supposed to gate it,
  * running the extraction over the full corpus instead of the survivors
  * (measured on p21: the h_bits/n_words predicate pushed below the
  * keep-join re-ran htmlToText+CharEntropy over all 5000 docs).
  * Wrapping the projection in Opaque pins it where it is written: not
  * pushed, not duplicated, not constant-folded. The wrapped tree must
  * itself be pure — Opaque changes WHERE it runs, never what it
  * returns — so results are bit-identical by construction.
  *
  * Keeps hand-written codegen (not a [[StaticCall]]): it emits its
  * child's generated code unchanged, which no method call can do.
  */
case class Opaque(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  // the single point of the wrapper: stop pushdown/duplication/folding
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false

  override def prettyName: String = "opaque"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): Opaque =
    copy(child = newChild)
}

object Opaque {
  def apply(c: Column): Column =
    GraftColumnBridge.column(Opaque(GraftColumnBridge.expression(c)))
}
