package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

/** Each Spark-backed dashboard request (a view over the materialized risk
  * table, or a service snapshot) is one plan with no exchange and one
  * job, and returns the same rows however the risk relation is
  * partitioned.
  */
class DashboardJobSpec extends AnyFunSpec with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  /** The risk table as the dashboard reads it: one parquet file. */
  private lazy val risk: DataFrame = {
    val dir = "/dev/shm/graft-test-dashboard-risk"
    SupplierPerf.risk(spark, TestSpark.Sf).coalesce(1)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Jobs `f` launches and the physical plans it executes. */
  private def executed(tag: String)(f: => Unit): (Int, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // jobsOf drains the listener bus, so every executed plan is in
      val jobs = TestSpark.jobsOf(tag)(f)
      (jobs, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  private def assertOneJobNoExchange(tag: String)(f: => Unit): Unit = {
    val (jobs, plans) = executed(tag)(f)
    assert(jobs == 1, s"$tag launched $jobs jobs")
    assert(plans.size == 1, s"$tag executed ${plans.size} plans")
    val exchanges = plans.flatMap(collectWithSubqueries(_) { case e: Exchange => e })
    assert(exchanges.isEmpty, s"$tag plans an exchange:\n${plans.mkString("\n")}")
  }

  describe("a dashboard request over the one-file risk table") {
    it("serves the risk table as a single partition") {
      assert(risk.count() > 0)
      assert(Dashboard.served(risk.repartition(4)).rdd.getNumPartitions == 1)
    }

    Dashboard.RiskViews.foreach { name =>
      it(s"runs $name as one job with no exchange") {
        assertOneJobNoExchange(name) {
          Dashboard.queriesFromRisk(risk)(name).collect()
        }
      }
    }

    it("takes the DashboardService snapshot as one job with no exchange") {
      assertOneJobNoExchange("page_load") { new DashboardService(risk) }
    }

    it("returns the same rows over a four-partition risk relation") {
      // the fixture has no supplier in the filter's nation; the moved copy
      // gives the filtered views (q12-q14) rows to order and aggregate
      val moved = risk.withColumn("s_nationkey", lit(Dashboard.FilterNation))
      for (rel <- Seq(risk, moved)) {
        val spread = rel.repartition(4)
        Dashboard.RiskViews.foreach { name =>
          val one = Dashboard.queriesFromRisk(rel)(name).collect().toSeq
          val four = Dashboard.queriesFromRisk(spread)(name).collect().toSeq
          assert(four == one, name)
        }
        assert(new DashboardService(spread).snapshot.toSeq ==
          new DashboardService(rel).snapshot.toSeq)
      }
      Dashboard.RiskViews.foreach { name =>
        assert(Dashboard.queriesFromRisk(moved)(name).count() > 0, name)
      }
    }

    it("rejects a name outside RiskViews as Map.apply does") {
      assertThrows[NoSuchElementException] {
        Dashboard.queriesFromRisk(risk)("q11_filter_domains")
      }
    }
  }
}
