package graft.operators

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.functions.col
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

/** q10's presentation rounding must equal its DuckDB twin's `round`,
  * which scales the DOUBLE by 10^digits and rounds that binary value
  * half away from zero.
  */
class DashboardSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._

  private def rounded(xs: Seq[Double], digits: Int): Seq[Double] =
    xs.toDF("x").select(Dashboard.roundHalfAway(col("x"), digits))
      .collect().map(_.getDouble(0)).toSeq

  /** DuckDB's algorithm on the exact binary value of the scaled double. */
  private def duckRound(x: Double, digits: Int): Double = {
    val scale = math.pow(10, digits)
    new JBigDecimal(x * scale).setScale(0, RoundingMode.HALF_UP).doubleValue / scale
  }

  describe("Dashboard.roundHalfAway") {
    it("rounds 40101/600 = 66.835 (binary 66.83499…) down, as DuckDB does") {
      assert(rounded(Seq(40101.0 / 600), 2) == Seq(66.83))
    }

    it("rounds exact binary halves away from zero") {
      assert(rounded(Seq(2.5, -2.5, 0.5, 1.5, -0.5), 0) == Seq(3.0, -3.0, 1.0, 2.0, -1.0))
      assert(rounded(Seq(0.125, -0.125), 2) == Seq(0.13, -0.13))
    }

    it("follows the scaled product, as DuckDB does (values checked in DuckDB)") {
      // 1.005 * 100 is just below 100.5; 1.115 * 100 rounds up to 111.5
      assert(rounded(Seq(1.005, 0.285, 1.115, 66.865), 2) == Seq(1.0, 0.28, 1.12, 66.86))
    }

    it("agrees with DuckDB's algorithm over many ratios and signs") {
      val xs = (1 to 2000).flatMap(k => Seq(k / 600.0, -k / 7.0, k * 0.005, k / 3.0 * 100))
      for (digits <- Seq(1, 2, 3))
        assert(rounded(xs, digits) == xs.map(duckRound(_, digits)), s"digits=$digits")
    }
  }
}
