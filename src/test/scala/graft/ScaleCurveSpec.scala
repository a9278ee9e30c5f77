package graft

import org.scalatest.funspec.AnyFunSpec

class ScaleCurveSpec extends AnyFunSpec {
  it("times only catalog queries, each once") {
    val listed = ScaleCurve.CorpusScaling
    assert(listed.filterNot(SparkEntry.queries.contains).isEmpty)
    assert(listed.distinct == listed)
    assert(ScaleCurve.QuadraticOutput.subsetOf(listed.toSet))
  }
}
