package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark
import graft.sources.Tables

class SupplierPerfSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def supplierDf(rows: (Long, String, Int, Double)*): DataFrame =
    rows.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")

  private def lineDf(rows: (Long, Long, Double, Double, Double, String, Timestamp)*): DataFrame =
    rows.toDF("l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice",
      "l_discount", "l_returnflag", "l_shipdate")

  private def ordersDf(rows: (Long, Timestamp)*): DataFrame =
    rows.toDF("o_orderkey", "o_orderdate")

  describe("kpis (q04)") {
    it("keeps one row per supplier present in the join") {
      val k = SupplierPerf.kpis(spark, sf)
      val expected = Tables.supplier(spark, sf)
        .join(Tables.lineitem(spark, sf),
          col("s_suppkey") === col("l_suppkey"))
        .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
        .select("s_suppkey").distinct().count()
      assert(k.count() == expected)
    }

    it("bounds rates to [0,1] and keeps n_lines positive") {
      val rows = SupplierPerf.kpis(spark, sf).collect()
      rows.foreach { r =>
        val ot = r.getAs[Double]("on_time_rate")
        val rr = r.getAs[Double]("return_rate")
        assert(ot >= 0.0 && ot <= 1.0)
        assert(rr >= 0.0 && rr <= 1.0)
        assert(r.getAs[Long]("n_lines") > 0)
      }
    }

    it("computes exact aggregates on a hand-checked single supplier") {
      // two lines: one on time (delay 10d, returned), one late (delay 40d)
      val k = SupplierPerf.kpisFrom(
        supplierDf((1L, "s1", 0, 100.0)),
        lineDf(
          (10L, 1L, 5.0, 100.0, 0.10, "R", ts("2024-02-11 00:00:00")),
          (11L, 1L, 3.0, 200.0, 0.00, "N", ts("2024-03-12 00:00:00"))),
        ordersDf((10L, ts("2024-02-01 00:00:00")), (11L, ts("2024-02-01 00:00:00"))))
        .collect()(0)
      assert(k.getAs[Double]("on_time_rate") == 0.5)
      assert(k.getAs[Double]("avg_ship_delay_days") == 25.0)
      assert(k.getAs[Double]("return_rate") == 0.5)
      assert(k.getAs[Double]("total_qty") == 8.0)
      assert(k.getAs[Double]("returned_qty_ratio") == 5.0 / 8.0)
      assert(k.getAs[Double]("revenue") == 100.0 * 0.9 + 200.0)
      assert(k.getAs[Long]("n_lines") == 2L)
    }

    it("yields NULL returned_qty_ratio when total quantity is zero") {
      val k = SupplierPerf.kpisFrom(
        supplierDf((1L, "s1", 0, 100.0)),
        lineDf((10L, 1L, 0.0, 50.0, 0.0, "N", ts("2024-01-05 00:00:00"))),
        ordersDf((10L, ts("2024-01-01 00:00:00"))))
        .collect()(0)
      assert(k.isNullAt(k.fieldIndex("returned_qty_ratio")))
    }

    it("returns no rows for suppliers with no lineitems (inner join)") {
      val k = SupplierPerf.kpisFrom(
        supplierDf((1L, "s1", 0, 100.0), (2L, "s2", 0, 50.0)),
        lineDf((10L, 1L, 1.0, 10.0, 0.0, "N", ts("2024-01-05 00:00:00"))),
        ordersDf((10L, ts("2024-01-01 00:00:00"))))
      assert(k.select("s_suppkey").as[Long].collect().toSeq == Seq(1L))
    }
  }

  describe("kpisIncremental (q96)") {
    it("merged base+delta partials equal the full recompute exactly") {
      val s = supplierDf((1L, "alpha", 1, 100.0), (2L, "beta", 2, 50.0))
      val l = lineDf(
        (10L, 1L, 5.0, 100.0, 0.05, "N", ts("2000-01-10 00:00:00")),
        (11L, 1L, 3.0, 200.0, 0.10, "R", ts("2001-06-01 00:00:00")),
        (12L, 2L, 7.0, 300.0, 0.00, "N", ts("2001-02-03 00:00:00")))
      val o = ordersDf((10L, ts("2000-01-01 00:00:00")),
        (11L, ts("2001-05-01 00:00:00")), (12L, ts("2001-01-01 00:00:00")))
      val cut = to_date(lit(SupplierPerf.IncrCutoff))
      val merged = SupplierPerf.mergeKpiPartials(
        SupplierPerf.kpiPartialsFrom(s, l.filter(col("l_shipdate") < cut), o),
        SupplierPerf.kpiPartialsFrom(s, l.filter(col("l_shipdate") >= cut), o))
        .collect()
      val full = SupplierPerf.kpisFrom(s, l, o).collect()
      assert(merged.length == full.length)
      merged.zip(full).foreach { case (m, f) =>
        f.schema.fieldNames.foreach { c =>
          assert(m.getAs[Any](c) == f.getAs[Any](c), s"column $c") }
      }
      // slice audit: supplier 1 has one line on each side of the cutoff
      val m1 = merged.find(_.getAs[Long]("s_suppkey") == 1L).get
      assert(m1.getAs[Long]("n_base") == 1L && m1.getAs[Long]("n_delta") == 1L)
      assert(merged.forall(m =>
        m.getAs[Long]("n_base") + m.getAs[Long]("n_delta") == m.getAs[Long]("n_lines")))
    }

    it("a supplier whose lines are all in the delta still appears") {
      val s = supplierDf((9L, "newcomer", 3, 10.0))
      val l = lineDf((20L, 9L, 2.0, 50.0, 0.0, "N", ts("2001-07-07 00:00:00")))
      val o = ordersDf((20L, ts("2001-07-01 00:00:00")))
      val cut = to_date(lit(SupplierPerf.IncrCutoff))
      val merged = SupplierPerf.mergeKpiPartials(
        SupplierPerf.kpiPartialsFrom(s, l.filter(col("l_shipdate") < cut), o),
        SupplierPerf.kpiPartialsFrom(s, l.filter(col("l_shipdate") >= cut), o))
        .collect()
      assert(merged.length == 1)
      assert(merged(0).getAs[Long]("n_base") == 0L &&
        merged(0).getAs[Long]("n_delta") == 1L)
    }
  }

  describe("risk (q07)") {
    it("guards degenerate min=max bounds with norm = 1.0") {
      val single = SupplierPerf.riskFrom(
        SupplierPerf.kpisFrom(
          supplierDf((1L, "s1", 0, 100.0)),
          lineDf((10L, 1L, 1.0, 10.0, 0.0, "N", ts("2024-01-05 00:00:00"))),
          ordersDf((10L, ts("2024-01-01 00:00:00")))))
        .collect()(0)
      Seq("norm_on_time", "norm_delay", "norm_return", "norm_revenue", "norm_acctbal")
        .foreach(c => assert(single.getAs[Double](c) == 1.0, c))
      assert(single.getAs[Double]("performance_score") == 1.0)
      assert(single.getAs[Double]("risk_score") == 0.0)
    }

    it("keeps risk in [0,1] and decreasing in performance on real data") {
      val rows = SupplierPerf.risk(spark, sf)
        .select("performance_score", "risk_score", "norm_acctbal").collect()
      rows.foreach { r =>
        val risk = r.getAs[Double]("risk_score")
        assert(risk >= 0.0 && risk <= 1.0)
        val recomputed = 0.7 * (1.0 - r.getAs[Double]("performance_score")) +
          0.3 * (1.0 - r.getAs[Double]("norm_acctbal"))
        assert(risk == recomputed)
      }
    }

    it("norm columns stay within [0,1] on real data") {
      SupplierPerf.risk(spark, sf)
        .select("norm_on_time", "norm_delay", "norm_return", "norm_revenue", "norm_acctbal")
        .collect()
        .foreach(r => (0 until 5).foreach { i =>
          assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0)
        })
    }
  }

  describe("ivmJoin (q216)") {
    // orders/lineitem spanning the two delta cuts: o1 base order, o2
    // delta order; l rows split base/late by ship date
    def fixture = (
      Seq((1L, ts("2000-01-01 00:00:00"), "1-URGENT"),
        (2L, ts("2001-07-01 00:00:00"), "1-URGENT"),
        (3L, ts("1999-03-01 00:00:00"), "2-HIGH"))
        .toDF("o_orderkey", "o_orderdate", "o_orderpriority"),
      Seq((1L, ts("2000-02-01 00:00:00"), 100.0, 0.0), // base x base
        (1L, ts("2001-09-01 00:00:00"), 200.0, 0.5), // base order, late line
        (2L, ts("2001-07-15 00:00:00"), 50.0, 0.0), // delta order, base line
        (2L, ts("2001-10-01 00:00:00"), 80.0, 0.25), // delta x delta
        (3L, ts("1999-04-01 00:00:00"), 10.0, 0.0))
        .toDF("l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"))

    it("the four delta terms merge to the direct join view, hand-checked") {
      val (o, l) = fixture
      val r = SupplierPerf.ivmJoinFrom(o, l)
        .collect().map(x => x.getAs[String]("o_orderpriority") -> x).toMap
      val u = r("1-URGENT")
      assert(u.getAs[Long]("n_lines") == 4L)
      // 100 + 200*0.5 + 50 + 80*0.75 = 310
      assert(u.getAs[Double]("revenue") == 310.0)
      assert(u.getAs[Long]("n_base") == 1L)
      assert(u.getAs[Long]("n_delta_orders") == 1L)
      assert(u.getAs[Long]("n_delta_lines") == 1L)
      assert(u.getAs[Long]("n_delta_both") == 1L)
      val h = r("2-HIGH")
      assert(h.getAs[Long]("n_lines") == 1L && h.getAs[Long]("n_base") == 1L)
      assert(h.getAs[Double]("revenue") == 10.0)
    }

    it("staged fold over parquet round-tripped base partials equals fresh") {
      val (o, l) = fixture
      val dir = java.nio.file.Files.createTempDirectory("ivmbase").toString
      SupplierPerf.ivmBasePartials(o, l).write.mode("overwrite").parquet(dir)
      val staged = SupplierPerf
        .ivmJoinStaged(spark.read.parquet(dir), o, l).collect().toSeq
      val fresh = SupplierPerf.ivmJoinFrom(o, l).collect().toSeq
      assert(staged == fresh)
    }

    it("incremental equals full on the fixture, term counts partition n_lines") {
      val r = SupplierPerf.ivmJoin(spark, sf).collect()
      assert(r.nonEmpty)
      r.foreach { x =>
        assert(x.getAs[Long]("n_base") + x.getAs[Long]("n_delta_orders") +
          x.getAs[Long]("n_delta_lines") + x.getAs[Long]("n_delta_both") ==
          x.getAs[Long]("n_lines"))
      }
      // the direct (non-decomposed) view: same rows
      val direct = Tables.orders(spark, sf)
        .join(Tables.lineitem(spark, sf),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_lines"))
        .collect().map(x => x.getAs[String]("o_orderpriority") ->
          x.getAs[Long]("n_lines")).toMap
      r.foreach(x => assert(direct(x.getAs[String]("o_orderpriority")) ==
        x.getAs[Long]("n_lines")))
    }
  }

  describe("geoRollup (q256)") {
    it("emits consistent nation, region, and grand-total levels") {
      val sup = supplierDf((1L, "s1", 0, 0.0), (2L, "s2", 0, 0.0),
        (3L, "s3", 1, 0.0))
      val nat = Seq((0, "GERMANY", 0), (1, "FRANCE", 0))
        .toDF("n_nationkey", "n_name", "n_regionkey")
      val reg = Seq((0, "EUROPE")).toDF("r_regionkey", "r_name")
      val l = lineDf(
        (1L, 1L, 1.0, 100.0, 0.0, "N", ts("2024-01-05 00:00:00")),
        (2L, 2L, 1.0, 50.0, 0.0, "N", ts("2024-01-05 00:00:00")),
        (3L, 3L, 1.0, 25.0, 0.0, "N", ts("2024-01-05 00:00:00")))
      val r = SupplierPerf.geoRollupFrom(sup, nat, reg, l).collect()
      val byGid = r.groupBy(_.getAs[Int]("gid"))
      assert(byGid(0).length == 2) // (EUROPE, FRANCE), (EUROPE, GERMANY)
      assert(byGid(1).length == 1) // (EUROPE, null)
      assert(byGid(3).length == 1) // (null, null)
      val eur = byGid(1).head
      assert(eur.getAs[Long]("n_lines") == 3L)
      assert(eur.getAs[Long]("n_suppliers") == 3L)
      assert(eur.getAs[Double]("revenue") == 175.0)
      val tot = byGid(3).head
      assert(tot.isNullAt(tot.fieldIndex("r_name")))
      assert(tot.getAs[Double]("revenue") == 175.0)
      val ger = r.find(x => x.getAs[Int]("gid") == 0 &&
        x.getAs[String]("n_name") == "GERMANY").get
      assert(ger.getAs[Long]("n_suppliers") == 2L)
      assert(ger.getAs[Double]("revenue") == 150.0)
    }
  }

  describe("partMargins (q257)") {
    it("computes realized vs list value and the top type per brand") {
      val part = Seq(
        (10L, "pn1", "B1", "tA", 1, 20.0),
        (11L, "pn2", "B1", "tB", 1, 10.0),
        (12L, "pn3", "B2", "tC", 1, 5.0))
        .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
          "p_retailprice")
      // lineDf has no partkey column — build lineitem directly
      val l = Seq(
        (1L, 10L, 2.0, 30.0, 0.0), // B1/tA: rev 30, list 40
        (2L, 11L, 1.0, 9.0, 0.0), // B1/tB: rev 9, list 10
        (3L, 12L, 4.0, 18.0, 0.5)) // B2/tC: rev 9, list 20
        .toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
          "l_discount")
      val r = SupplierPerf.partMarginsFrom(part, l).collect()
        .map(x => x.getAs[String]("p_brand") -> x).toMap
      val b1 = r("B1")
      assert(b1.getAs[Long]("n_lines") == 2L)
      assert(b1.getAs[Double]("revenue") == 39.0)
      assert(b1.getAs[Double]("retail_value") == 50.0)
      assert(b1.getAs[Double]("realized_ratio") == 39.0 / 50.0)
      assert(b1.getAs[String]("top_type") == "tA")
      assert(b1.getAs[Double]("top_type_revenue") == 30.0)
      val b2 = r("B2")
      assert(b2.getAs[Double]("revenue") == 9.0)
      assert(b2.getAs[Double]("retail_value") == 20.0)
    }
  }

  describe("paretoSuppliers (q246)") {
    // one line per supplier so the objective vector is hand-computable:
    // late = delay > 30d, ret = returnflag R, rev_u = price × 10⁴
    val s = supplierDf((1L, "s1", 0, 0.0), (2L, "s2", 0, 0.0),
      (3L, "s3", 0, 0.0), (4L, "s4", 0, 0.0), (5L, "s5", 0, 0.0))
    val o = ordersDf((1 to 5).map(k => (k.toLong, ts("2024-01-01 00:00:00"))): _*)
    def onTime = ts("2024-01-11 00:00:00")
    def late = ts("2024-02-15 00:00:00")
    val l = lineDf(
      (1L, 1L, 1.0, 100.0, 0.0, "N", onTime), // (0,0,100)   frontier
      (2L, 2L, 1.0, 1000.0, 0.0, "N", late), // (1,0,1000)  frontier
      (3L, 3L, 1.0, 500.0, 0.0, "N", late), // (1,0,500)   dominated by s2
      (4L, 4L, 1.0, 2000.0, 0.0, "R", onTime), // (0,1,2000)  frontier
      (5L, 5L, 1.0, 100.0, 0.0, "N", onTime)) // ≡ s1 — kept (no strict dom)

    it("keeps exactly the non-dominated set, duplicates included") {
      val r = SupplierPerf.paretoFrom(s, l, o)
      assert(r.select("s_suppkey").as[Long].collect().toSeq ==
        Seq(1L, 2L, 4L, 5L))
      val s2 = r.filter(col("s_suppkey") === 2L).collect()(0)
      assert(s2.getAs[Long]("late_lines") == 1L)
      assert(s2.getAs[Long]("ret_lines") == 0L)
      assert(s2.getAs[Long]("rev_u") == 10000000L)
      assert(s2.getAs[Double]("revenue") == 1000.0)
    }

    it("grid pruning returns exactly the single-cell brute skyline on the fixture") {
      def withGrid(g: Int): Seq[String] =
        SupplierPerf.paretoFrom(Tables.supplier(spark, sf),
          Tables.lineitem(spark, sf), Tables.orders(spark, sf), grid = g)
          .collect().map(_.mkString("|")).toSeq
      // g=1 puts every point in one cell: phase 1 IS the brute-force
      // dominance filter; g=8 must reach the identical set through the
      // cell prune + candidate join
      val brute = withGrid(1)
      val grid = withGrid(8)
      assert(brute.nonEmpty)
      assert(grid == brute)
    }
  }
}
