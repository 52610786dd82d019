package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Narrow accessor for `private[sql]` plan materialization — the one place
  * graft needs to turn a hand-built [[LogicalPlan]] (the mz_now() temporal
  * extraction's stamped plan) into a DataFrame. Lives in the Spark package
  * namespace solely to cross that access boundary; no Spark internals are
  * modified. */
object GraftPlanBridge {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** Wrap a hand-built catalyst Expression as a [[Column]] — used to place
    * native fused-codegen expressions (e.g. [[graft.functions.DotProduct]])
    * without a detour through the session function registry. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** `e` with every float and double inside it normalized (-0.0 to 0.0,
    * every NaN to one NaN), as Spark normalizes grouping and join keys. */
  def normalizeFloats(
      e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** The catalyst expression behind a [[Column]] (classic sessions only). */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
