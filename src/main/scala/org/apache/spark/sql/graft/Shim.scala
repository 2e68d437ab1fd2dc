package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SparkStrategy

/** Minimal bridge into Spark's `private[sql]` plan APIs — the standard
  * technique third-party Catalyst extensions use to materialize a
  * DataFrame from a hand-built LogicalPlan, to move between a Column
  * and the Catalyst expression it wraps, and to register strategies
  * on an already-created session (SparkSessionExtensions only applies
  * at builder time) — and into the `private[spark]` listener bus.
  */
object Shim {

  /** A Column over a hand-built Catalyst expression (no registry). */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The (possibly unresolved) Catalyst expression behind a Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[Row]].queryExecution.analyzed

  def optimized(df: DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[Row]].queryExecution.optimizedPlan

  /** Idempotently add a planner strategy + optimizer rule at runtime. */
  def addStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[ClassicSession].experimental
    if (!exp.extraStrategies.contains(strategy)) {
      exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

  def addOptimization(spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[ClassicSession].experimental
    if (!exp.extraOptimizations.contains(rule)) {
      exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
  }

  /** Block until every listener event posted so far has been delivered
    * (Spark's 10 s default timeout), so counters a listener gathered
    * for a finished action are complete when read. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
