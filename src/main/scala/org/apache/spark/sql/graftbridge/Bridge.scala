package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one bridge into spark-sql's `private[sql]` classic helpers:
  * Column ↔ Expression (graft's custom Catalyst expressions and the
  * DML/MV rules) and a resolved LogicalPlan back into a DataFrame.
  * These are the same entry points Spark's own commands use; they are
  * package-private only because the classic/connect split made them
  * implementation details, so this shim sits in the
  * org.apache.spark.sql namespace — no behavior is forked here. */
object Bridge {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
}
