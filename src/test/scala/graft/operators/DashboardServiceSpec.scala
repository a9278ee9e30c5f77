package graft.operators

import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark
import graft.TestSpark.RefData
import graft.model.Schemas
import graft.sources.SupplierCsv

class DashboardServiceSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark

  private lazy val svc = DashboardService(spark, TestSpark.Sf)

  describe("DashboardService snapshot facade") {
    it("serves a risk-ranked snapshot") {
      val risks = svc.snapshot.map(_.getAs[Double]("risk_score")).toSeq
      assert(risks == risks.sortBy(-_))
      assert(svc.snapshot.nonEmpty)
    }

    it("filters, tiles, and top-Ns consistently with the snapshot") {
      val all = svc.filtered(None, 0, Long.MaxValue)
      assert(all.size == svc.snapshot.length)
      val Some((n, avgRisk, avgOnTimePct, _)) = svc.tiles(all)
      assert(n == all.size)
      assert(avgRisk >= 0.0 && avgRisk <= 1.0)
      assert(avgOnTimePct >= 0.0 && avgOnTimePct <= 100.0)
      val top3 = svc.topN(all, 3)
      assert(top3.map(_.getAs[Long]("s_suppkey")) ==
        svc.snapshot.take(3).map(_.getAs[Long]("s_suppkey")).toSeq)
    }

    it("returns None tiles for an empty slice (em-dash contract)") {
      assert(svc.tiles(Seq.empty).isEmpty)
    }

    it("drills down by exact supplier name") {
      val name = svc.snapshot.head.getAs[String]("s_name")
      assert(svc.drilldown(name).isDefined)
      assert(svc.drilldown("no such supplier").isEmpty)
    }

    it("sorts domains by the column's type, NaN-safe (ADVICE r01)") {
      import spark.implicits._
      val risky = Seq(
        (3L, 0.5), (1L, Double.NaN), (2L, 0.1), (4L, Double.PositiveInfinity))
        .toDF("s_suppkey", "risk_score")
      val s = new DashboardService(risky)
      // Double.compare total order: finite < +Inf < NaN — and no
      // 'Comparison method violates its general contract' crash
      val d = s.domain("risk_score")
      assert(d.take(3) == Seq(0.1, 0.5, Double.PositiveInfinity))
      assert(d(3).asInstanceOf[Double].isNaN) // NaN != NaN under ==
      // longs sort numerically, not lexicographically (10 > 9)
      val wide = new DashboardService(
        Seq((10L, 1.0), (9L, 2.0)).toDF("s_suppkey", "risk_score"))
      assert(wide.domain("s_suppkey") == Seq(9L, 10L))
    }
  }

  describe("typed model API") {
    it("round-trips supplier-domain KPIs through case classes") {
      assume(RefData.present, RefData.Missing)
      import Schemas._
      val k = SupplierDomain.kpis(
        SupplierCsv.read(spark, s"${RefData.Dir}/suppliers.csv", "suppliers"),
        SupplierCsv.read(spark, s"${RefData.Dir}/purchase_orders.csv", "purchase_orders"),
        SupplierCsv.read(spark, s"${RefData.Dir}/deliveries.csv", "deliveries"))
      val typed = Schemas.kpis(k).collect()
      assert(typed.length == 15)
      typed.foreach { t =>
        assert(t.on_time_delivery_rate >= 0.0 && t.on_time_delivery_rate <= 1.0)
        assert(t.fill_rate.exists(f => f > 0.0 && f <= 1.0))
        assert(t.n_pos > 0)
      }
      val risk = Schemas.risk(SupplierDomain.risk(k)).collect()
      assert(risk.head.supplier_id == "S010") // worst supplier first
    }
  }
}
