package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression conversion for graft's native expressions.
  *
  * Spark 4 unified Column on ColumnNode and made the classic converters
  * `private[sql]`; this bridge lives in an org.apache.spark.sql
  * subpackage to reach them — the standard pattern for libraries that
  * ship custom Catalyst expressions (same technique as frameless /
  * sedona / delta).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an already-resolved LogicalPlan (custom operator
    * nodes constructed from analyzed children).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
