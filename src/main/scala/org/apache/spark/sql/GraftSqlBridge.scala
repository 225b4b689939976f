package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column <-> Expression converters so the
  * engine can register native Catalyst expressions through the public
  * Column API. Lives in the spark.sql package by design (the supported
  * pattern for third-party expression libraries).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The DIVIDE_BY_ZERO error ANSI-mode `Divide` raises. */
  def divideByZeroError(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)

  /** Build a DataFrame from an InternalRow RDD without a Row conversion
    * pass (used by the mapPartitions-based embed step).
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema, isStreaming = false)
}
