package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSession}

/** Column ⇄ Expression and DataFrame ⇄ LogicalPlan bridges.
  * `ExpressionUtils` and `Dataset.ofRows` are `private[sql]` in Spark 4,
  * so this one-file shim lives under the spark package — the conventional
  * pattern for Catalyst-extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The analyzed logical plan of a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[Row]].queryExecution.analyzed

  /** A DataFrame over an arbitrary (resolved) logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Block until every listener event posted so far has been delivered
    * (the bus is `private[spark]` and asynchronous), so job and task
    * counts read right after an action are complete. Times out after 60 s.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
