package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gen.DataGen
import graft.operators.SupplierDomain
import graft.sources.{AtomicWarehouse, SupplierCsv}

/** The reference's 4-stage batch pipeline, Spark-native: generate →
  * load → kpis → risk, with the same restartable file-handoff contract
  * (dags/supplier_pipeline_dag.py:37-57; any stage can rerun from its
  * predecessor's output on disk) and drop-and-recreate idempotency
  * (`SaveMode.Overwrite` ↔ the reference's DROP TABLE IF EXISTS,
  * load_duckdb.py:32-36). Table overwrites go through
  * [[AtomicWarehouse]] (version dir + atomic pointer flip) so
  * concurrent readers — the reference keeps read-only dashboard
  * connections open across reloads (dashboard/app.py:39) — never see a
  * half-written table.
  *
  * Run all stages: `runMain graft.app.Pipeline <workDir>` — or a single
  * stage: `runMain graft.app.Pipeline <workDir> <stage>`.
  */
object Pipeline {

  /** Scheduler-analog stage runner (the reference schedules each stage
    * with retries=2, dags/supplier_pipeline_dag.py:14-15): rerun a
    * failed stage up to `retries` extra attempts before giving up.
    * Retrying blind is SAFE here because every stage is idempotent
    * from its predecessor's on-disk output: generate/load/kpis/risk
    * each republish their outputs whole (CSV overwrite, or an
    * [[AtomicWarehouse]] version-dir + pointer flip), so an attempt
    * that died mid-write left the previous published version visible
    * and the retry starts from the same inputs — the restart contract
    * `PipelineSpec` pins.
    */
  def runStage[T](name: String, retries: Int = 2)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case e: Exception if attempt < retries =>
          attempt += 1
          System.err.println(
            s"[pipeline] stage $name attempt $attempt/${retries + 1} failed, retrying: ${e.getMessage}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def generate(spark: SparkSession, dir: String,
      nSuppliers: Int = 15, nPos: Int = 600, seed: Long = 42L): Unit = {
    val s = DataGen.suppliers(spark, nSuppliers, seed)
    val po = DataGen.purchaseOrders(spark, nPos, nSuppliers, seed)
    SupplierCsv.write(s, s"$dir/csv/suppliers")
    SupplierCsv.write(po, s"$dir/csv/purchase_orders")
    SupplierCsv.write(DataGen.deliveries(po, s, seed), s"$dir/csv/deliveries")
  }

  /** CSV → parquet warehouse + the reference's integrity checks
    * (row counts, orphans in both directions — load_duckdb.py:98-128).
    * Returns (rowCounts, orphanPos, orphanDeliveries). The row counts are
    * the ones each [[AtomicWarehouse.overwrite]] counted while writing,
    * so no table is read back to count it; both orphan counts come from
    * one [[SupplierDomain.orphans]] query over the published tables.
    */
  def load(spark: SparkSession, dir: String): (Map[String, Long], Long, Long) = {
    val wh = s"$dir/wh"
    val counts = SupplierCsv.schemas.keys.map { t =>
      t -> AtomicWarehouse.overwrite(SupplierCsv.read(spark, s"$dir/csv/$t", t), wh, t)
    }.toMap
    val (orphanPos, orphanDeliveries) = SupplierDomain.orphans(
      AtomicWarehouse.read(spark, wh, "purchase_orders"),
      AtomicWarehouse.read(spark, wh, "deliveries"))
    (counts, orphanPos, orphanDeliveries)
  }

  /** `supplier_kpis` CTAS (compute_kpis.py): the published table and
    * the number of rows published.
    */
  def kpis(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val wh = s"$dir/wh"
    val k = SupplierDomain.kpis(
      AtomicWarehouse.read(spark, wh, "suppliers"),
      AtomicWarehouse.read(spark, wh, "purchase_orders"),
      AtomicWarehouse.read(spark, wh, "deliveries"))
    val n = AtomicWarehouse.overwrite(k, wh, "supplier_kpis")
    (AtomicWarehouse.read(spark, wh, "supplier_kpis"), n)
  }

  /** `supplier_risk_summary` CTAS (compute_risk.py): the published
    * table and the number of rows published.
    */
  def risk(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val wh = s"$dir/wh"
    val r = SupplierDomain.risk(AtomicWarehouse.read(spark, wh, "supplier_kpis"))
    val n = AtomicWarehouse.overwrite(r, wh, "supplier_risk_summary")
    (AtomicWarehouse.read(spark, wh, "supplier_risk_summary"), n)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/pipeline")
    val stage = if (args.length > 1) args(1) else "all"
    val spark = graft.Session.local()

    def stageGenerate(): Unit = runStage("generate") {
      generate(spark, dir); println(s"[pipeline] generated → $dir/csv")
    }
    def stageLoad(): Unit = runStage("load") {
      val (counts, orphanPo, orphanD) = load(spark, dir)
      println(s"[pipeline] loaded: $counts; orphan POs=$orphanPo orphan deliveries=$orphanD")
      require(orphanPo == 0 && orphanD == 0, "referential integrity violated")
    }
    def stageKpis(): Unit = runStage("kpis") {
      println(s"[pipeline] supplier_kpis rows=${kpis(spark, dir)._2}")
    }
    def stageRisk(): Unit = runStage("risk") {
      println(s"[pipeline] supplier_risk_summary rows=${risk(spark, dir)._2}")
    }

    stage match {
      case "generate" => stageGenerate()
      case "load" => stageLoad()
      case "kpis" => stageKpis()
      case "risk" => stageRisk()
      case "all" => stageGenerate(); stageLoad(); stageKpis(); stageRisk()
      case other => sys.error(s"unknown stage '$other' (generate|load|kpis|risk|all)")
    }
    spark.stop()
  }
}
