package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funspec.AnyFunSpec

class VerifySpec extends AnyFunSpec {
  private def parse(json: String): Map[String, String] =
    new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]])
      .asScala.toMap

  describe("oracle_sql.json rendering") {
    val sql = Map(
      "q01_a" -> "SELECT 1",
      "q02_b" -> "SELECT\t'x'\r\nFROM t WHERE c = '\u0001' AND d = \"q\\\\\"",
      "q03_c" -> "SELECT 3")

    it("writes every query's SQL when no subset is dumped") {
      assert(parse(Verify.oracleJson(sql, None)) == sql)
    }

    it("writes only the dumped subset's SQL") {
      val json = Verify.oracleJson(sql, Some(Set("q02_b", "q99_not_a_query")))
      assert(parse(json).keySet == Set("q02_b"))
    }

    it("round-trips a tab, a CR and a \\u0001 through a JSON parser") {
      val json = Verify.oracleJson(sql, Some(Set("q02_b")))
      assert(!json.exists(c => c < ' '), s"raw control char in $json")
      assert(parse(json)("q02_b") == sql("q02_b"))
    }
  }
}
