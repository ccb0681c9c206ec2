package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Classic-backend Column ↔ Expression bridge.
  *
  * Spark 4 made `Column` backend-agnostic and scoped the conversion
  * helpers `private[sql]`; living under `org.apache.spark.sql` is the
  * sanctioned extension-library pattern for reaching them (the same
  * move every Catalyst-extending library makes).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Spark's own errors for a decimal that does not fit its target type
  * (NUMERIC_VALUE_OUT_OF_RANGE) and for a decimal sum that overflows,
  * for native expressions that mirror a decimal cast or sum under
  * ANSI. */
object ErrorBridge {
  import org.apache.spark.sql.errors.QueryExecutionErrors
  import org.apache.spark.sql.types.Decimal

  def decimalOutOfRange(value: Decimal, precision: Int, scale: Int): ArithmeticException =
    QueryExecutionErrors.cannotChangeDecimalPrecisionError(value, precision, scale, null)

  def decimalSumOverflow(): ArithmeticException =
    QueryExecutionErrors.overflowInSumOfDecimalError(null, "try_sum")
}

/** DataFrame ↔ LogicalPlan bridge for custom logical operators. */
object DatasetBridge {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.classic

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
}
