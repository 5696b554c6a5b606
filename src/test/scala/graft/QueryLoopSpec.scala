package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The JSON string escaper Bench and Verify share: every string must
  * come back unchanged through a strict parser, and the literal itself
  * must be pure ASCII.
  */
class QueryLoopSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("jsonString round-trips quotes, controls, non-ASCII, emoji and a lone surrogate through Jackson") {
    val cases = Seq(
      "",
      "plain ascii",
      "say \"hi\"",
      "back\\slash \\n literal",
      "line\nbreak\ttab\rcr",
      "bell\u0007 nul\u0000 esc\u001b del\u007f",
      "naïve café – ≤ 1µs",
      "emoji 🏈 pair",
      "cut \ud83c",              // a lone high surrogate, as take(n) can leave
      "lone low \udfc8 surrogate")
    cases.foreach { s =>
      val lit = QueryLoop.jsonString(s)
      assert(lit.forall(c => c >= ' ' && c <= '~'), s"non-ASCII or control char in $lit")
      assert(mapper.readValue(lit, classOf[String]) === s, lit)
    }
    assert(QueryLoop.jsonString("a\nb\t\"c\"") === "\"a\\nb\\t\\\"c\\\"\"")
  }
}
