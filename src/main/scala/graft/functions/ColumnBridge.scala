package org.apache.spark.sql

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.QueryExecution

/** Bridge to Spark's private[sql] Column <-> Expression conversions for
  * registering custom Catalyst expressions (the supported technique for
  * extension libraries building native expressions), and to the dataset
  * ids a DataFrame tags its plan with.
  */
object GraftColumnBridge {
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** A DataFrame over `qe`. The root of `qe.analyzed` must be a node no
    * other thread uses: it drops the dataset ids it may have copied from
    * the plan it was made from, whose id set would otherwise be shared
    * and grow with every frame over a copy of that plan.
    */
  def dataFrameOf(qe: QueryExecution): DataFrame = {
    qe.analyzed.unsetTagValue(classic.Dataset.DATASET_ID_TAG)
    new classic.Dataset[Row](qe, ExpressionEncoder(qe.analyzed.schema))
  }
}
