package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Logical-plan entry points the engine's own operators need and Spark
  * keeps `private[sql]`: wrapping a hand-built plan in a DataFrame, and
  * teaching a session built without `graft.GraftExtensions` to plan it. */
object PlanBridge {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** Adds `strategy` to the session's planner unless it already plans with
    * it (through the extensions or an earlier call). Idempotent. */
  def ensureStrategy(session: SparkSession, strategy: SparkStrategy): Unit = {
    val s = session.asInstanceOf[classic.SparkSession]
    if (!s.sessionState.planner.strategies.contains(strategy))
      s.experimental.extraStrategies = strategy +: s.experimental.extraStrategies
  }
}
