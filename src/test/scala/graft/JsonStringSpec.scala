package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The one JSON string escaper behind Verify's oracle_sql.json and
  * Bench's summary files: every control char, quote and backslash must
  * come back unchanged through a real JSON parser. */
class JsonStringSpec extends AnyFunSuite {
  test("every char below 0x20, quote and backslash round-trip through Jackson") {
    val s = (0 until 0x20).map(_.toChar).mkString + "\"\\ q_name: héllo  "
    val json = Verify.jsonString(s)
    assert(new ObjectMapper().readValue(json, classOf[String]) == s, json)
    assert(!json.exists(_ < ' '), "a raw control char reached the JSON text")
  }
}
