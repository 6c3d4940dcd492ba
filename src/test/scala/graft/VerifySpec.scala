package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  test("oracleJson round-trips SQL with a tab, CR, quote, backslash and U+0001") {
    val oracle = Map(
      "k" -> "SELECT\t'a\"b'\r\n, '\\d+' AS x -- \u0001",
      "q\"\\key" -> "SELECT 1")
    val json = Verify.oracleJson(oracle)
    assert(!json.exists(_ < ' '), json)
    val back = new ObjectMapper().registerModule(DefaultScalaModule)
      .readValue(json, classOf[Map[String, String]])
    assert(back == oracle)
  }
}
