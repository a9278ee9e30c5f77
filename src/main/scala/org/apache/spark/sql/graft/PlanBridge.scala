package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset

/** Minimal bridge to three package-private internals that Spark exposes
  * no public equivalent for: wrapping a custom [[LogicalPlan]] node into
  * a DataFrame (`Dataset.ofRows`), recovering the Catalyst [[Expression]]
  * behind a public [[Column]], and waiting for the driver's listener bus.
  * Lives under `org.apache.spark.sql` for package visibility only — the
  * standard pattern for Spark extension libraries; everything else in
  * graft uses public APIs.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  /** Converts through the session's ColumnNode converter so the result
    * is a real Catalyst tree (UnresolvedAttribute / SortOrder nodes),
    * not a lazy ColumnNodeExpression wrapper.
    */
  def expression(spark: SparkSession, c: Column): Expression =
    castToImpl(spark).expression(c)

  /** Blocks until every event posted so far has reached every listener:
    * the bus delivers job, stage and query-execution events
    * asynchronously.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
