package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's private[sql] surface, needed to expose custom
  * Catalyst expressions and logical plans (graft.plans) through the
  * public Column/DataFrame API. Lives under org.apache.spark.sql only
  * for access; contains no logic. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def logicalPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Runs `df` in one job inside a SQL execution of its own, as `collect`
    * does (query listeners see the action), and hands each partition's
    * rows to `onPartition` as its task's result arrives. `onPartition`
    * runs on the scheduler's thread, in completion order. */
  def collectPartitions(df: DataFrame)(
      onPartition: (Int, Array[InternalRow]) => Unit): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = qe.executedPlan.execute()
      rdd.sparkContext.runJob(rdd,
        (it: Iterator[InternalRow]) => it.map(_.copy()).toArray, onPartition)
    }
  }

  /** Runs `body` with the session's SQL conf set on the jobs it starts,
    * as Dataset actions do. */
  def withSQLConf[T](spark: SparkSession)(body: => T): T =
    SQLExecution.withSQLConfPropagated(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])(body)

  def toRow(schema: StructType): InternalRow => Row = {
    val convert = CatalystTypeConverters.createToScalaConverter(schema)
    r => convert(r).asInstanceOf[Row]
  }
}
