package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Json]] output parses back to what was rendered, under the Jackson
  * parser Spark ships. */
class JsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper

  test("str escapes quote, backslash and every control char, and parses back equal") {
    val all = "quote\" back\\ nl\n cr\r tab\t " + (0 until 0x20).map(_.toChar).mkString +
      " sql -- ü €"
    val lit = Json.str(all)
    assert(!lit.drop(1).dropRight(1).exists(_ < ' '), "raw control char in output")
    Seq("\\\"", "\\\\", "\\n", "\\r", "\\t", "\\u0000", "\\u001f")
      .foreach(e => assert(lit.contains(e), e))
    assert(mapper.readValue(lit, classOf[String]) == all)
  }

  test("obj and arr render in order and parse back equal") {
    val line = Json.obj("a\tkey" -> Json.str("v\n"), "n" -> 3, "x" -> 1.5,
      "nested" -> Json.obj("q" -> Json.arr(Seq(1, 2))), "none" -> "null")
    val tree = mapper.readTree(line)
    assert(tree.get("a\tkey").asText == "v\n")
    assert(tree.get("n").asInt == 3 && tree.get("x").asDouble == 1.5)
    assert(tree.get("nested").get("q").get(1).asInt == 2)
    assert(tree.get("none").isNull)
    assert(line.startsWith("{\"a\\tkey\":") && Json.obj() == "{}")
  }
}
