package graft.app

import java.io.File

import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark
import graft.TestSpark.RefData
import graft.gen.DataGen
import graft.operators.SupplierDomain
import graft.sources.{AtomicWarehouse, SupplierCsv}

/** Golden fidelity: run our engine's supplier-domain operators over the
  * reference's committed seed-42 CSVs and assert the exact values the
  * reference's committed warehouse.db holds (queried via DuckDB,
  * 2026-08-12). Double comparisons are exact — the engine's arithmetic
  * is deterministic and mirrors the reference's operation order.
  * Each test is canceled where those CSVs are absent (`TestSpark.RefData`).
  */
class GoldenReferenceSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark

  private lazy val suppliers = SupplierCsv.read(spark, s"${RefData.Dir}/suppliers.csv", "suppliers")
  private lazy val po = SupplierCsv.read(spark, s"${RefData.Dir}/purchase_orders.csv", "purchase_orders")
  private lazy val deliveries = SupplierCsv.read(spark, s"${RefData.Dir}/deliveries.csv", "deliveries")

  describe("load + integrity on the committed CSVs") {
    it("reads 15 / 600 / 600 rows with zero orphans") {
      assume(RefData.present, RefData.Missing)
      assert(suppliers.count() == 15)
      assert(po.count() == 600)
      assert(deliveries.count() == 600)
      assert(SupplierDomain.orphans(po, deliveries) == ((0L, 0L)))
    }
  }

  describe("supplier_kpis golden values") {
    it("matches the committed warehouse row for S001 exactly") {
      assume(RefData.present, RefData.Missing)
      val k = SupplierDomain.kpis(suppliers, po, deliveries)
      assert(k.count() == 15)
      val s1 = k.filter(org.apache.spark.sql.functions.col("supplier_id") === "S001").collect()(0)
      assert(s1.getAs[Double]("on_time_delivery_rate") == 0.6153846153846154)
      assert(s1.getAs[Double]("avg_delivery_delay_days") == 2.948717948717949)
      assert(s1.getAs[Double]("fill_rate") == 0.9218941609282143)
      assert(s1.getAs[Double]("quality_issue_rate") == 0.1282051282051282)
      assert(s1.getAs[Long]("n_pos") == 39L)
    }
  }

  describe("supplier_risk_summary golden values") {
    it("ranks S010 worst with the committed scores exactly") {
      assume(RefData.present, RefData.Missing)
      val r = SupplierDomain.risk(SupplierDomain.kpis(suppliers, po, deliveries)).collect()
      assert(r.length == 15)
      val top = r(0)
      assert(top.getAs[String]("supplier_id") == "S010")
      assert(top.getAs[Double]("performance_score") == 0.0)
      assert(top.getAs[Double]("risk_score") == 0.9909999999999999)
      val second = r(1)
      assert(second.getAs[String]("supplier_id") == "S001")
      assert(second.getAs[Double]("performance_score") == 0.271999091099805)
      assert(second.getAs[Double]("risk_score") == 0.7916006362301364)
    }
  }
}

/** End-to-end 4-stage pipeline over generated data (restartable
  * file-handoff, idempotent overwrite).
  */
class PipelineSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  private val dir = "/dev/shm/graft-test-pipeline"

  describe("generate → load → kpis → risk") {
    it("runs end-to-end with integrity intact and bounded scores") {
      Pipeline.generate(spark, dir, nSuppliers = 8, nPos = 200, seed = 7L)
      val (counts, orphanPo, orphanD) = Pipeline.load(spark, dir)
      assert(counts == Map("suppliers" -> 8L, "purchase_orders" -> 200L, "deliveries" -> 200L))
      assert(orphanPo == 0 && orphanD == 0)
      val (k, nK) = Pipeline.kpis(spark, dir)
      assert(nK <= 8 && nK > 0 && k.count() == nK)
      val (risk, nR) = Pipeline.risk(spark, dir)
      val r = risk.collect()
      assert(r.length == nR)
      r.foreach { row =>
        val risk = row.getAs[Double]("risk_score")
        assert(risk >= 0.0 && risk <= 1.0)
      }
    }

    it("hands off each table as several CSV part files") {
      for (t <- SupplierCsv.schemas.keys) {
        val parts = new File(s"$dir/csv/$t").listFiles().count(_.getName.endsWith(".csv"))
        assert(parts > 1, s"$t: $parts CSV part file(s)")
      }
    }

    it("publishes the risk table SupplierDomain computes over the in-memory frames") {
      val s = DataGen.suppliers(spark, 8, 7L)
      val po = DataGen.purchaseOrders(spark, 200, 8, 7L)
      val expected = SupplierDomain.risk(SupplierDomain.kpis(s, po, DataGen.deliveries(po, s, 7L)))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().sortBy(_.getAs[String]("supplier_id")).toSeq
      val published = AtomicWarehouse.read(spark, s"$dir/wh", "supplier_risk_summary")
      assert(published.schema.map(f => f.name -> f.dataType) ==
        expected.schema.map(f => f.name -> f.dataType))
      assert(rows(published) == rows(expected))
    }

    it("is idempotent: rerunning a stage overwrites cleanly") {
      val k1 = Pipeline.kpis(spark, dir)._1.collect().map(_.toString).sorted
      val k2 = Pipeline.kpis(spark, dir)._1.collect().map(_.toString).sorted
      assert(k1.toSeq == k2.toSeq)
    }
  }

  describe("restart + retry contract (the reference's retries=2 scheduling)") {
    it("a mid-pipeline stage failure resumes without rebuilding completed stages") {
      val d = "/dev/shm/graft-test-pipeline-resume"
      Pipeline.generate(spark, d, nSuppliers = 6, nPos = 120, seed = 11L)
      Pipeline.load(spark, d)
      // published versions of the completed stages' outputs
      def vers = Seq("suppliers", "purchase_orders", "deliveries")
        .map(t => AtomicWarehouse.currentPath(s"$d/wh", t))
      val before = vers

      // the kpis stage dies on every attempt (executor loss, say):
      // the runner exhausts its retry budget and rethrows
      var attempts = 0
      val boom = intercept[RuntimeException] {
        Pipeline.runStage("kpis", retries = 2) {
          attempts += 1; throw new RuntimeException("executor lost")
        }
      }
      assert(boom.getMessage == "executor lost")
      assert(attempts == 3, "retries=2 means three attempts total")

      // completed stages were not rebuilt or republished by the failure...
      assert(vers == before, "a downstream failure must not touch upstream outputs")
      // ...and the resumed run needs ONLY the failed stage: it reads
      // load's published tables and succeeds
      val (_, k) = Pipeline.kpis(spark, d)
      assert(k > 0)
      assert(vers == before, "resuming kpis must not republish load's tables")
    }

    it("a transiently failing stage succeeds within the retry budget") {
      var n = 0
      val out = Pipeline.runStage("flaky", retries = 2) {
        n += 1; if (n < 3) throw new RuntimeException("transient"); 42
      }
      assert(out == 42 && n == 3)
    }

    it("a failed publish attempt leaves the previous version visible to readers") {
      import org.apache.spark.sql.functions._
      val d = "/dev/shm/graft-test-pipeline-resume"
      // kpis published above; a rerun attempt that crashes BEFORE its
      // pointer flip (simulated: crash before overwrite is called)
      // leaves the reader-visible table bit-identical
      val prev = AtomicWarehouse.read(spark, s"$d/wh", "supplier_kpis")
        .orderBy("supplier_id").collect().toSeq
      intercept[RuntimeException] {
        Pipeline.runStage("kpis-rerun", retries = 0) {
          // stage work begins (reads inputs)…
          AtomicWarehouse.read(spark, s"$d/wh", "suppliers").count()
          // …and dies before any publish
          throw new RuntimeException("oom")
        }
      }
      val after = AtomicWarehouse.read(spark, s"$d/wh", "supplier_kpis")
        .orderBy("supplier_id").collect().toSeq
      assert(after == prev)
    }
  }
}
