package graft

import org.scalatest.funspec.AnyFunSpec

class ScaleCurveSpec extends AnyFunSpec {
  it("times only catalog queries, each once") {
    val listed = ScaleCurve.CorpusScaling
    assert(listed.filterNot(SparkEntry.queries.contains).isEmpty)
    assert(listed.distinct == listed)
    assert(ScaleCurve.QuadraticOutput.subsetOf(listed.toSet))
  }

  describe("multsOf") {
    it("defaults to 10 100 and keeps ascending positive multipliers") {
      assert(ScaleCurve.multsOf(Nil) == Seq(10, 100))
      assert(ScaleCurve.multsOf(Seq("1", "2")) == Seq(1, 2))
      assert(ScaleCurve.multsOf(Seq("1", "10", "100")) == Seq(1, 10, 100))
    }

    it("rejects a non-integer, a non-positive, a lone or a descending multiplier, naming it") {
      Seq(Seq("x") -> "x", Seq("0", "2") -> "0", Seq("10") -> "10",
          Seq("10", "2") -> "2").foreach { case (args, bad) =>
        val e = intercept[IllegalArgumentException](ScaleCurve.multsOf(args))
        assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
    }
  }
}
