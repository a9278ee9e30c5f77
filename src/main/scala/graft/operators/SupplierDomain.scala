package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Det._

/** The reference's EXACT query semantics over its own supplier domain
  * (suppliers / purchase_orders / deliveries): per-supplier KPI table
  * and min-max-normalized composite risk scoring.
  *
  * Semantics come from code, not prose (reference README got its own
  * score direction wrong — SURVEY §1.1):
  *  - delay = DATE_DIFF('day', promised, delivery) — signed, negative
  *    for early (compute_kpis.py:43); Spark arg order flips:
  *    `datediff(delivery, promised)`;
  *  - on-time = delivery <= promised (early counts on-time,
  *    compute_kpis.py:45);
  *  - fill_rate = SUM(delivered)::DOUBLE / NULLIF(SUM(ordered), 0)
  *    (compute_kpis.py:64) — NULL, not 0, on zero ordered;
  *  - suppliers with no POs are ABSENT (inner join, compute_kpis.py:46-50);
  *  - norms: (x−min)/(max−min), inverted for delay and quality, 1.0
  *    when max=min (compute_risk.py:59-80);
  *  - performance = mean of 4 norms, 1.0 = best (compute_risk.py:104);
  *  - risk = 0.7·(1−performance) + 0.3·(financial_risk_score/100)
  *    (compute_risk.py:107-108).
  *
  * Scale design: the joins shuffle on their natural keys (supplier_id,
  * po_id); the 1-row bounds relation broadcasts; aggregation is
  * two-phase hash with map-side combine. Rates are exact-int-sum /
  * count divisions; the one fractional ratio divides two exact int
  * sums — every double is order-independent (Det).
  */
object SupplierDomain {

  /** Q2/Q3 — referential integrity (load_duckdb.py:108-124): (POs with
    * no delivery, deliveries with no PO), the two anti-join counts, from
    * ONE full outer join on `po_id` and one aggregate. Each side carries
    * a marker column; a row whose partner marker is null had no match and
    * comes out of the outer join exactly once, null keys included (null
    * never equals null), so duplicates count as often as the anti-joins
    * count them.
    */
  def orphans(po: DataFrame, deliveries: DataFrame): (Long, Long) = {
    val r = po.select(col("po_id"), lit(true).as("is_po"))
      .join(deliveries.select(col("po_id"), lit(true).as("is_d")), Seq("po_id"), "full_outer")
      .agg(count(when(col("is_d").isNull, 1)), count(when(col("is_po").isNull, 1)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Q4 — `supplier_kpis` (compute_kpis.py:24-74). */
  def kpis(suppliers: DataFrame, po: DataFrame, deliveries: DataFrame): DataFrame = {
    val delay = datediff(col("delivery_date"), col("promised_date"))
    suppliers
      .join(po, Seq("supplier_id"))
      .join(deliveries, Seq("po_id"))
      .select(
        col("supplier_id"), col("supplier_name"), col("category"),
        col("country"), col("financial_risk_score"),
        delay.as("delivery_delay_days"),
        when(col("delivery_date") <= col("promised_date"), 1).otherwise(0).as("on_time_flag"),
        col("quantity_ordered"), col("quantity_delivered"), col("quality_issues"))
      .groupBy("supplier_id", "supplier_name", "category", "country", "financial_risk_score")
      .agg(
        rate(col("on_time_flag")).as("on_time_delivery_rate"),
        avgInt(col("delivery_delay_days")).as("avg_delivery_delay_days"),
        (sum("quantity_delivered").cast("double") /
          nullIfZero(sum("quantity_ordered"))).as("fill_rate"),
        rate(col("quality_issues")).as("quality_issue_rate"),
        count(lit(1)).as("n_pos"))
      .orderBy("supplier_id")
  }

  /** Q7 — `supplier_risk_summary` (compute_risk.py:36-113). */
  def risk(kpis: DataFrame): DataFrame = {
    val bounds = kpis.agg(
      min("on_time_delivery_rate").as("min_ot"), max("on_time_delivery_rate").as("max_ot"),
      min("avg_delivery_delay_days").as("min_dl"), max("avg_delivery_delay_days").as("max_dl"),
      min("fill_rate").as("min_fl"), max("fill_rate").as("max_fl"),
      min("quality_issue_rate").as("min_ql"), max("quality_issue_rate").as("max_ql"))

    def norm(c: String, mn: String, mx: String, invert: Boolean) = {
      val scaled = (col(c) - col(mn)) / (col(mx) - col(mn))
      when(col(mx) === col(mn), lit(1.0))
        .otherwise(if (invert) lit(1.0) - scaled else scaled)
    }

    val kCols = kpis.columns.map(col)
    kpis.crossJoin(broadcast(bounds))
      .select(kCols :+
        norm("on_time_delivery_rate", "min_ot", "max_ot", invert = false).as("norm_on_time") :+
        norm("avg_delivery_delay_days", "min_dl", "max_dl", invert = true).as("norm_delay") :+
        norm("fill_rate", "min_fl", "max_fl", invert = false).as("norm_fill") :+
        norm("quality_issue_rate", "min_ql", "max_ql", invert = true).as("norm_quality"): _*)
      .withColumn("performance_score",
        (col("norm_on_time") + col("norm_delay") + col("norm_fill") + col("norm_quality")) / 4.0)
      .withColumn("risk_score",
        lit(0.7) * (lit(1.0) - col("performance_score")) +
          lit(0.3) * (col("financial_risk_score").cast("double") / 100.0))
      .orderBy(desc("risk_score"), asc("supplier_id"))
  }

  /** Q5/Q6/Q8 peek queries (compute_kpis.py:78-99, compute_risk.py:115-134). */
  def worstOnTime(kpis: DataFrame, n: Int = 5): DataFrame =
    kpis.select("supplier_id", "supplier_name", "on_time_delivery_rate", "avg_delivery_delay_days")
      .orderBy(asc("on_time_delivery_rate"), asc("supplier_id")).limit(n)

  def longestDelays(kpis: DataFrame, n: Int = 5): DataFrame =
    kpis.select("supplier_id", "supplier_name", "avg_delivery_delay_days", "on_time_delivery_rate")
      .orderBy(desc("avg_delivery_delay_days"), asc("supplier_id")).limit(n)

  def topRisk(risk: DataFrame, n: Int = 10): DataFrame =
    risk.select("supplier_id", "supplier_name", "category", "country",
        "financial_risk_score", "on_time_delivery_rate", "fill_rate",
        "performance_score", "risk_score")
      .orderBy(desc("risk_score"), asc("supplier_id")).limit(n)
}
