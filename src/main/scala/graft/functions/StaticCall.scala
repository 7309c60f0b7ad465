package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{DataType, ObjectType}

/** The one way a row-local graft function reaches whole-stage codegen: a
  * static Scala method called through Catalyst's `StaticInvoke`, which
  * generates the call itself (and calls the method by reflection on the
  * interpreted path).
  *
  * This expression only keeps the function's SQL face while the plan is
  * analyzed: `name` is its `prettyName` (so an unaliased column reads
  * `name(text)`), its inputs are type-checked like any
  * `ExpectsInputTypes` expression, and `params` (constants and model
  * objects) stay out of the column name. The optimizer then replaces it
  * with `StaticInvoke(target, dataType, method, inputs ++ params)`.
  *
  * The static method takes Catalyst's physical types (`UTF8String`,
  * `ArrayData`, `int`, ...) and returns the physical form of `dataType`;
  * a null input yields null without a call.
  */
case class StaticCall(
    name: String,
    target: Class[_],
    method: String,
    override val dataType: DataType,
    inputs: Seq[Expression],
    inputTypes: Seq[DataType],
    params: Seq[Literal])
    extends Expression with RuntimeReplaceable with ExpectsInputTypes {

  override def children: Seq[Expression] = inputs
  override def prettyName: String = name
  override def toString: String = s"$name(${(inputs ++ params).mkString(", ")})"

  override lazy val replacement: Expression =
    StaticInvoke(target, dataType, method, inputs ++ params, returnNullable = false)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): StaticCall = copy(inputs = newChildren)
}

object StaticCall {
  /** `name(input)` as the column `target.method(input, params*)`. An `Int`
    * or `Boolean` param is passed as a primitive; any other param is passed
    * as the object itself (wrap a large table in [[Model]] so plans stay
    * short).
    */
  def apply(target: AnyRef, method: String, name: String, dataType: DataType,
      input: Column, inputType: DataType, params: Any*): Column =
    GraftColumnBridge.column(StaticCall(name, target.getClass, method, dataType,
      Seq(GraftColumnBridge.expression(input)), Seq(inputType),
      params.map {
        case v @ (_: Int | _: Boolean) => Literal(v)
        case obj => Literal(obj, ObjectType(obj.getClass))
      }))
}

/** A model object (a rank table, a stopword set) passed to a [[StaticCall]]
  * as a constant. It prints as `label`, so `explain` never spells out the
  * table, and it compares by identity.
  */
final class Model[T](val value: T, label: String) extends Serializable {
  override def toString: String = label
}
