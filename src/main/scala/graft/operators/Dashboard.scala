package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Dashboard query surface (reference dashboard/app.py): base projection,
  * presentation rounding, filter domains, filtered slice, KPI tiles,
  * top-N, drill-down, table viewer. Each result has at most one row per
  * supplier, so it is safe to collect at the service edge. The views
  * over the risk relation read it through [[served]].
  */
object Dashboard {

  /** Default filter used by the parameterized dashboard queries
    * (app.py:98-103: optional category/country equality + inclusive
    * n_pos range). Here: nation-key equality + lineitem-count range.
    */
  val FilterNation = 7
  val NLinesLo = 400
  val NLinesHi = 800

  private val filteredSql: String =
    s"""${SupplierPerf.riskSql},
       | filtered AS (
       |  SELECT * FROM risk
       |  WHERE s_nationkey = $FilterNation AND n_lines BETWEEN $NLinesLo AND $NLinesHi
       |)""".stripMargin

  /** Order-independent mean over a DOUBLE column (exact decimal
    * accumulator; see graft.functions.Det).
    */
  private def tileAvg(c: String): Column =
    sum(col(c).cast(DecimalType(38, 12))).cast("double") / count(lit(1))

  /** DuckDB's `round(x, digits)` on a DOUBLE: scale by 10^digits, round
    * the scaled binary value half away from zero, scale back. Spark's
    * `round(x, digits)` instead rounds the double's shortest decimal
    * string half up, so it disagrees on values that print as an exact
    * half but sit below it in binary (40101/600 prints 66.835: Spark
    * 66.84, DuckDB 66.83). Rounding the SCALED value to an integer is
    * exact in Spark too: n + 0.5 is itself a double, so a scaled value
    * below it never prints as n.5.
    */
  def roundHalfAway(c: Column, digits: Int): Column = {
    val scale = math.pow(10, digits)
    round(c * scale, 0) / scale
  }

  /** Q10 — presentation rounding of the risk relation, in the oracle's
    * (DuckDB's) rounding. The reference's pandas layer rounds half-even
    * (dashboard/app.py:64-69) — a UI needing numpy parity applies
    * `bround` to the unrounded q09 columns (SURVEY §2.1 Q10).
    */
  private def presentation(risk: DataFrame): DataFrame =
    risk.select(col("s_suppkey"), col("s_name"),
        roundHalfAway(col("on_time_rate") * 100, 1).as("on_time_rate_pct"),
        roundHalfAway(col("return_rate") * 100, 1).as("return_rate_pct"),
        roundHalfAway(col("avg_ship_delay_days"), 2).as("avg_ship_delay_days"),
        roundHalfAway(col("performance_score"), 3).as("performance_score"),
        roundHalfAway(col("risk_score"), 3).as("risk_score"))
      .orderBy(desc("risk_score"), asc("s_suppkey"))

  /** The risk relation as the views and the [[DashboardService]]
    * snapshot read it: in one partition. It has one row per supplier by
    * construction, so one task serves it, and `coalesce(1)` is narrow and
    * reports `SinglePartition`: every global sort, aggregate and limit
    * over it plans with no `Exchange` and runs as one job. A scan reports
    * unknown partitioning even for a one-file table, so without this each
    * `orderBy` pays a range-sampling job plus a shuffle. Only the stage
    * after the relation's last exchange collapses to one task.
    */
  def served(risk: DataFrame): DataFrame = risk.coalesce(1)

  private def filtered(risk: DataFrame): DataFrame =
    risk.filter(col("s_nationkey") === FilterNation &&
      col("n_lines").between(NLinesLo, NLinesHi))

  /** Q9–Q15 over a served risk relation, one builder per view. */
  private val views: ListMap[String, DataFrame => DataFrame] = ListMap(
    "q09_dashboard_base" -> ((r: DataFrame) => r
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal",
        "on_time_rate", "avg_ship_delay_days", "return_rate", "revenue",
        "n_lines", "norm_acctbal", "performance_score", "risk_score")
      .orderBy(desc("risk_score"), asc("s_suppkey"))),
    "q10_presentation" -> (presentation _),
    "q12_filtered_risk" -> ((r: DataFrame) => filtered(r)
      .select("s_suppkey", "s_name", "s_nationkey", "n_lines", "risk_score")
      .orderBy("s_suppkey")),
    "q13_kpi_tiles" -> ((r: DataFrame) => filtered(r).agg(
      count(lit(1)).as("n_suppliers"),
      tileAvg("risk_score").as("avg_risk"),
      (tileAvg("on_time_rate") * 100).as("avg_on_time_pct"),
      (tileAvg("return_rate") * 100).as("avg_return_pct"))),
    "q14_topn_risk" -> ((r: DataFrame) => filtered(r)
      .select("s_suppkey", "s_name", "risk_score", "performance_score")
      .orderBy(desc("risk_score"), asc("s_suppkey"))
      .limit(10)),
    "q15_drilldown" -> ((r: DataFrame) => r
      .filter(col("s_name") === "Supplier#000000003")
      .orderBy("s_suppkey")
      .limit(1)))

  /** The views [[queriesFromRisk]] derives from the risk relation. */
  val RiskViews: Seq[String] = views.keys.toSeq

  /** Q9–Q15 over a materialized risk relation — the shape the reference
    * actually runs (its dashboard reads the CTAS'd `supplier_risk_summary`
    * table, not a recomputation; dashboard/app.py:41-58). Used by the
    * staged Bench pipeline and, over a recomputed risk relation, by
    * [[queries]]. Builds (and so analyzes) only the named view; a name
    * outside [[RiskViews]] throws `NoSuchElementException`.
    */
  def queriesFromRisk(risk: DataFrame): String => DataFrame =
    name => views(name)(served(risk))

  /** Q9–Q16 over the base tables: the risk-fed views recompute the
    * risk relation and read it through [[queriesFromRisk]].
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    RiskViews.map { name =>
      name -> ((spark: SparkSession, dir: String) =>
        queriesFromRisk(SupplierPerf.risk(spark, dir))(name))
    }.toMap ++ Map(
      // Q11 — filter domain: sorted distinct non-null values (app.py:86-87).
      "q11_filter_domains" -> ((spark: SparkSession, dir: String) =>
        Tables.orders(spark, dir)
          .select("o_orderpriority").na.drop().distinct()
          .orderBy("o_orderpriority")),

      // Q16 — table viewer: SELECT * FROM t LIMIT n (app.py:204-212).
      "q16_table_viewer" -> ((spark: SparkSession, dir: String) =>
        Tables.nation(spark, dir).orderBy("n_nationkey").limit(20)))

  val oracle: Map[String, String] = Map(
    "q09_dashboard_base" ->
      s"""${SupplierPerf.riskSql}
         |SELECT s_suppkey, s_name, s_nationkey, s_acctbal, on_time_rate,
         |  avg_ship_delay_days, return_rate, revenue, n_lines, norm_acctbal,
         |  performance_score, risk_score
         |FROM risk ORDER BY risk_score DESC, s_suppkey ASC""".stripMargin,
    "q10_presentation" ->
      s"""${SupplierPerf.riskSql}
         |SELECT s_suppkey, s_name,
         |  round(on_time_rate * 100, 1) AS on_time_rate_pct,
         |  round(return_rate * 100, 1) AS return_rate_pct,
         |  round(avg_ship_delay_days, 2) AS avg_ship_delay_days,
         |  round(performance_score, 3) AS performance_score,
         |  round(risk_score, 3) AS risk_score
         |FROM risk ORDER BY round(risk_score, 3) DESC, s_suppkey ASC""".stripMargin,
    "q11_filter_domains" ->
      """SELECT DISTINCT o_orderpriority FROM orders
        |WHERE o_orderpriority IS NOT NULL ORDER BY o_orderpriority""".stripMargin,
    "q12_filtered_risk" ->
      s"""$filteredSql
         |SELECT s_suppkey, s_name, s_nationkey, n_lines, risk_score
         |FROM filtered ORDER BY s_suppkey""".stripMargin,
    "q13_kpi_tiles" ->
      s"""$filteredSql
         |SELECT COUNT(*) AS n_suppliers,
         |  CAST(SUM(CAST(risk_score AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS avg_risk,
         |  CAST(SUM(CAST(on_time_rate AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) * 100 AS avg_on_time_pct,
         |  CAST(SUM(CAST(return_rate AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) * 100 AS avg_return_pct
         |FROM filtered""".stripMargin,
    "q14_topn_risk" ->
      s"""$filteredSql
         |SELECT s_suppkey, s_name, risk_score, performance_score
         |FROM filtered ORDER BY risk_score DESC, s_suppkey ASC LIMIT 10""".stripMargin,
    "q15_drilldown" ->
      s"""${SupplierPerf.riskSql}
         |SELECT * FROM risk WHERE s_name = 'Supplier#000000003'
         |ORDER BY s_suppkey LIMIT 1""".stripMargin,
    "q16_table_viewer" ->
      "SELECT * FROM nation ORDER BY n_nationkey LIMIT 20")
}
