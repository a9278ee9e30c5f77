package graft

import org.scalatest.funspec.AnyFunSpec

class QProfSpec extends AnyFunSpec {
  describe("SPARK_GRAFT_QPROF_RUNS") {
    it("parses a positive count, and 0 only when plans are dumped") {
      assert(QProf.runsOf("3", dumpsPlans = false) == 3)
      assert(QProf.runsOf("0", dumpsPlans = true) == 0)
    }

    it("rejects a count that runs nothing or is no number, naming the variable and value") {
      Seq("0" -> false, "-1" -> true, "two" -> false, "" -> true).foreach {
        case (v, dumps) =>
          val e = intercept[IllegalArgumentException](QProf.runsOf(v, dumps))
          assert(e.getMessage.contains("SPARK_GRAFT_QPROF_RUNS") &&
            e.getMessage.contains(s"'$v'"), e.getMessage)
      }
    }
  }

  describe("SPARK_GRAFT_QPROF_CONF") {
    it("splits k=v entries on ';' and each entry on its first '='") {
      assert(QProf.confsOf("a.b=1;;c=x=y;d=") ==
        Seq("a.b" -> "1", "c" -> "x=y", "d" -> ""))
      assert(QProf.confsOf("") == Nil)
    }

    it("rejects an entry without '=' or key, naming the variable and value") {
      Seq("a=1;oops", "=1").foreach { v =>
        val e = intercept[IllegalArgumentException](QProf.confsOf(v))
        assert(e.getMessage.contains("SPARK_GRAFT_QPROF_CONF") &&
          e.getMessage.contains(v), e.getMessage)
      }
    }
  }
}
