package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.jstr]], the JSON string escaper of the bench line and of
  * Verify's `oracle_sql.json` and `manifest.json`.
  */
class BenchSpec extends AnyFunSuite {

  test("jstr escapes quote, backslash, \\n, \\r, \\t and other control chars as \\u00XX") {
    assert(Bench.jstr("a\"b\\c\nd\re\tf\u0001g\u001f") ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\\u001f\"")
    assert(Bench.jstr("é ' /") == "\"é ' /\"")
  }

  test("a JSON parser reads every jstr literal back as the original string") {
    val all = (0 until 0x80).map(_.toChar).mkString + "é€😀"
    assert(new ObjectMapper().readValue(Bench.jstr(all), classOf[String]) == all)
  }
}
