package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Dashboard query surface (reference dashboard/app.py): base projection,
  * presentation rounding, filter domains, filtered slice, KPI tiles,
  * top-N, drill-down, table viewer. Each is a small-by-construction
  * aggregate/limit — safe to collect at the service edge, planned as
  * `TakeOrderedAndProject` / partial+final hash aggregates underneath.
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

  /** Q9–Q15 over a materialized risk relation — the shape the reference
    * actually runs (its dashboard reads the CTAS'd `supplier_risk_summary`
    * table, not a recomputation; dashboard/app.py:41-58). Used by the
    * staged Bench pipeline and, over a recomputed risk relation, by
    * [[queries]]. Its key set is [[RiskViews]].
    */
  def queriesFromRisk(risk: DataFrame): Map[String, DataFrame] = {
    val filt = risk.filter(col("s_nationkey") === FilterNation &&
      col("n_lines").between(NLinesLo, NLinesHi))
    Map(
      "q09_dashboard_base" -> risk
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal",
          "on_time_rate", "avg_ship_delay_days", "return_rate", "revenue",
          "n_lines", "norm_acctbal", "performance_score", "risk_score")
        .orderBy(desc("risk_score"), asc("s_suppkey")),
      "q10_presentation" -> presentation(risk),
      "q12_filtered_risk" -> filt
        .select("s_suppkey", "s_name", "s_nationkey", "n_lines", "risk_score")
        .orderBy("s_suppkey"),
      "q13_kpi_tiles" -> filt.agg(
        count(lit(1)).as("n_suppliers"),
        tileAvg("risk_score").as("avg_risk"),
        (tileAvg("on_time_rate") * 100).as("avg_on_time_pct"),
        (tileAvg("return_rate") * 100).as("avg_return_pct")),
      "q14_topn_risk" -> filt
        .select("s_suppkey", "s_name", "risk_score", "performance_score")
        .orderBy(desc("risk_score"), asc("s_suppkey"))
        .limit(10),
      "q15_drilldown" -> risk
        .filter(col("s_name") === "Supplier#000000003")
        .orderBy("s_suppkey")
        .limit(1))
  }

  /** The views [[queriesFromRisk]] derives from the risk relation. */
  val RiskViews: Seq[String] = Seq("q09_dashboard_base", "q10_presentation",
    "q12_filtered_risk", "q13_kpi_tiles", "q14_topn_risk", "q15_drilldown")

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
