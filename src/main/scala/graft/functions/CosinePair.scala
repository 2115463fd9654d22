package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity of TWO array columns,
  * fused into ONE loop (dot product + both norms together) with real
  * `doGenCode` — the pairwise sibling of [[CosineToQuery]]. The
  * composable `zip_with`/`aggregate` formulation walks the arrays five
  * times with the lambdas interpreted PER ELEMENT (the measured
  * hot-path cost in the within-cluster and candidate-verify joins);
  * this runs one compiled loop per pair.
  *
  * Semantics are bit-equal with `HofReference.cosineSimColsHof` in the
  * test sources (the reference formulation, proven against the DuckDB
  * oracle's `list_cosine_similarity`): left-to-right double
  * accumulation of all three sums, `dot / (sqrt(na) * sqrt(nb))`, and
  * the HOF's null contract — a null array, a null element on either
  * side, or a length mismatch (zip_with pads with null) all yield NULL,
  * never a partial sum. A parity spec pins fused == HOF across these
  * branches.
  *
  * ONE deliberate divergence: a degenerate input (zero-norm vector —
  * 0/0 — or NaN elements) yields NULL, not the raw IEEE NaN. The HOF
  * form under Spark 4's default ANSI mode THROWS on the zero-norm
  * division (killing the whole query on one bad row), and a NaN
  * would be WORSE than either: Spark and DuckDB both order NaN
  * GREATER than every value — in comparisons, not just sorts — so a
  * NaN cosine passes every `>= θ` verify filter and a single zero
  * embedding would silently pair with (and min-id-delete) its entire
  * cluster. NULL is the only value that (a) fails every threshold
  * filter, (b) sorts nulls-last under the `desc` rank windows —
  * and the collect-path Java kernel skips NaN scores outright, so
  * both knn paths agree degenerates are not neighbors — and
  * (c) stays null through `round(...).cast("long")` quantization
  * instead of throwing under ANSI. [[CosineToQuery]] carries the
  * same NULL contract on the vector-vs-query side.
  */
case class CosinePair(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(FloatType | DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_pair needs two array<float|double> inputs, got $other")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    if (a == null) return null
    val b = right.eval(input)
    if (b == null) return null
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val va = if (leftIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val vb = if (rightIsFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += va * vb; na += va * va; nb += vb * vb
      i += 1
    }
    val r = dot / (math.sqrt(na) * math.sqrt(nb))
    if (r.isNaN) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (leftIsFloat) "getFloat" else "getDouble"
    val rGet = if (rightIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
      val va = ctx.freshName("va"); val vb = ctx.freshName("vb")
      val n = ctx.freshName("n")
      s"""
         |int $n = $x.numElements();
         |if ($y.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $va = (double) $x.$lGet($i);
         |    double $vb = (double) $y.$rGet($i);
         |    $dot += $va * $vb; $na += $va * $va; $nb += $vb * $vb;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |    if (java.lang.Double.isNaN(${ev.value})) { ${ev.isNull} = true; }
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosinePair =
    copy(left = newLeft, right = newRight)
}

object CosinePair {
  /** Column-level entry point. */
  def apply(a: Column, b: Column): Column =
    toColumn(CosinePair(toExpression(a), toExpression(b)))
}
