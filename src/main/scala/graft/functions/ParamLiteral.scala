package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
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
  */
final class ParamLiteral(value: Any, dataType: DataType) extends Literal(value, dataType) {
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
  /** `v`, any value `lit` takes, as a request value. */
  def apply(v: Any): Column = {
    val l = Literal(v)
    toColumn(new ParamLiteral(l.value, l.dataType))
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
