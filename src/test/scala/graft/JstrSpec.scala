package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[BenchRecord]]'s escaping is the one JSON string escaper behind every
  * bench record (`BENCH_FULL.json`, the history trail, the streaming smoke's
  * `failures` map) and Verify's `oracle_sql.json`. Error text reaches it
  * after whitespace collapse only, so any control char left (ESC from an
  * ANSI-coloured exception) must be escaped, or a strict parser rejects the
  * whole record.
  */
class JstrSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper() // default, strict: no raw control chars

  private def roundTrip(s: String): String =
    mapper.readTree(s"""{"k":${BenchRecord.jstr(s)}}""").get("k").asText()

  test("every U+0000-U+001F char round-trips through a strict JSON parser") {
    (0 until 0x20).map(_.toChar).foreach { c =>
      val s = s"err $c\"\\ ${c}end"
      assert(roundTrip(s) == s, f"U+${c.toInt}%04X did not survive")
    }
    val all = (0 until 0x20).map(_.toChar).mkString
    assert(roundTrip(all) == all)
    assert(roundTrip("\u001b[31mboom\u001b[0m") == "\u001b[31mboom\u001b[0m")
  }
}
