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
  * behind a public [[Column]], and waiting for the driver's listener bus
  * (with the job counter built on that wait).
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

  /** Spark jobs `f` launched: `f` runs under job group `group`, then the
    * listener bus is drained once (the status tracker is fed from it)
    * and the group's jobs are read once. The one job counter of the
    * repo: `ScaleCurve`, `QProf`'s runs and the specs' job pins
    * (`TestSpark.jobsOf`) all count through it.
    */
  def jobsOf(spark: SparkSession, group: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try f
    finally sc.clearJobGroup()
    drainListeners(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
