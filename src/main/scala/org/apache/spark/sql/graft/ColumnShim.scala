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
  /** A frame over `df`'s executed plan's RDD, the relation
   *  `Dataset.checkpoint` builds (`LogicalRDD.fromDataset`) with
   *  nothing cached: a second read reruns only the plan's last stage,
   *  over the shuffle output Spark retains while the RDD is referenced.
   *
   *  The relation keeps the origin plan's statistics, so a downstream
   *  planner sizes it as it sized the lazy frame; a `rowCount` the
   *  operator has already counted replaces the estimate (size = rows
   *  times the schema's row width). It keeps the executed plan's output
   *  partitioning and ordering. Under adaptive execution that plan is
   *  the adaptive wrapper, which claims none (unknown partitioning, no
   *  ordering), however far the plan has run: the RDD is built first,
   *  which runs the plan's shuffle stages, and nothing read afterwards
   *  can disagree with the partitions it produced. */
  def overOwnRdd(df: org.apache.spark.sql.DataFrame,
                 rowCount: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val rdd = ds.queryExecution.toRdd
    val rel = org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val counted = rowCount.fold(rel) { n =>
      val stats = rel.stats.copy(rowCount = Some(BigInt(n)), sizeInBytes =
        org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
          .getOutputSize(rel.output, BigInt(n), rel.stats.attributeStats))
      org.apache.spark.sql.execution.LogicalRDD(rel.output, rdd, rel.outputPartitioning,
        rel.outputOrdering, isStreaming = false)(ds.sparkSession, Some(stats), Some(rel.constraints))
    }
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, counted)
  }
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
