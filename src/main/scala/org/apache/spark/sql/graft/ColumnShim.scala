package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between Catalyst [[Expression]]s and the public [[Column]]
 *  API. Spark 4 moved Column to ColumnNode (Connect-compatible), so
 *  expression wrapping lives in `org.apache.spark.sql.classic` and is
 *  private[sql]; this shim (in a subpackage of org.apache.spark.sql)
 *  re-exports just the two conversions our function surface needs. */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  /** SQL `div` (integral division) as a Column op — exact over the
   *  full long range, unlike `/` which detours through double and
   *  loses integers above 2^53. */
  def integralDivide(a: Column, b: Column): Column =
    column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(expr(a), expr(b)))
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  /** A DataFrame over already-computed InternalRows. With
   *  `isStreaming = true` it is what a V1 streaming `Source.getBatch`
   *  must return (MicroBatchExecution asserts the flag); the same
   *  internal entry point the built-in file stream source uses. */
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
                rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                schema: org.apache.spark.sql.types.StructType,
                isStreaming: Boolean): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)
}
