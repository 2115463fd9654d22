package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

import scala.collection.immutable.HashSet

/** A request value in a plan. Spark writes a primitive [[Literal]]'s
  * value into the Java it generates, so two plans that differ only in
  * a request value compile two classes. This literal's code reads the
  * value from the plan's reference array instead (as
  * [[CosineToQuery]] ships its query vector), so every value of one
  * plan shape shares one compiled class. It is still a `Literal` to
  * every rule that matches one: constant folding, `OptimizeIn`, and
  * the `Literal(v, t)` patterns that push filters into a data source.
  *
  * `slot` names the request parameter the value came from (None for a
  * constant of the query), so a prepared plan takes another request's
  * values by [[ParamLiteral.rebind]]. A rule that folds the literal
  * into a plain `Literal` drops the slot; [[ParamLiteral.slotCounts]]
  * shows that.
  */
final class ParamLiteral(value: Any, dataType: DataType, val slot: Option[String])
    extends Literal(value, dataType) {
  override protected def otherCopyArgs: Seq[AnyRef] = slot :: Nil

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // non-primitive literals (strings, binaries, decimals) are already
    // referenced, and a null has no value to ship
    if (value == null || !CodeGenerator.isPrimitiveType(dataType)) super.doGenCode(ctx, ev)
    else {
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      ExprCode.forNonNullValue(
        JavaCode.global(s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
    }
}

object ParamLiteral {
  /** `v`, any value `lit` takes, as a request value of `slot`. */
  def apply(v: Any, slot: Option[String] = None): Column = {
    val l = Literal(v)
    toColumn(new ParamLiteral(l.value, l.dataType, slot))
  }

  /** The number of slotted literals per (slot, type) in `plan`'s
    * expressions, the ones [[rebind]] reaches.
    */
  def slotCounts(plan: LogicalPlan): Map[(String, DataType), Int] =
    plan.flatMap(_.expressions.flatMap(_.collect {
      case p: ParamLiteral if p.slot.isDefined => (p.slot.get, p.dataType)
    })).groupMapReduce(identity)(_ => 1)(_ + _)

  /** `plan` with every literal of a slot in `values` holding that
    * value (a Catalyst literal of the slot's type). Every ancestor of a
    * changed literal is a new node; the rest of the plan is shared.
    */
  def rebind(plan: LogicalPlan, values: Map[String, Literal]): LogicalPlan =
    plan.transformAllExpressions {
      case p: ParamLiteral if p.slot.exists(values.contains) =>
        new ParamLiteral(values(p.slot.get).value, p.dataType, p.slot)
    }

  /** `df(name) IN values` as Spark's `InSet`, whose code looks the value
    * up in a referenced set: Spark would write a list of up to ten
    * values into the code, so a list that changes on every request
    * (an overlay's ids, a search's terms) would compile on every
    * request. The set is a `HashSet` at every size, because the code
    * casts the reference to the set's class and Scala's own sets of one
    * to four elements each have their own. Values convert to the
    * column's type, as `isin` coerces.
    */
  def isIn(df: DataFrame, name: String, values: Iterable[Any]): Column = {
    val dt = df.schema(name).dataType
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    val set = HashSet.from[Any](values.iterator.map { v =>
      val l = Literal(v)
      if (l.dataType == dt) l.value else Cast(l, dt, tz).eval()
    })
    toColumn(InSet(toExpression(col(name)), set))
  }
}
