package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Verify.jsonString]], the escaper behind oracle_sql.json and Bench's
  * `err` record, against a real JSON parser. */
class JsonStringSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def roundTrip(s: String): String =
    mapper.readValue(Verify.jsonString(s), classOf[String])

  test("control characters, quote and backslash round-trip through Jackson") {
    (0 until 0x20).map(_.toChar.toString).foreach { s =>
      assert(roundTrip(s) == s, f"char 0x${s.head.toInt}%02x")
    }
    Seq("\"", "\\", "a\"b\\c\n\td", "\\\"\\u0041").foreach(s => assert(roundTrip(s) == s))
  }

  test("non-ASCII text round-trips unescaped") {
    val s = "caf\u00e9 \u65e5\u672c \ud83d\ude00"
    assert(roundTrip(s) == s)
    assert(Verify.jsonString(s) == "\"" + s + "\"")
  }
}
