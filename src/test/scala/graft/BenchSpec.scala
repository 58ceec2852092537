package graft

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench's printed result line must parse as JSON whatever the
  * JVM's default locale.
  */
class BenchSpec extends AnyFunSuite {

  test("the result line keeps a dot decimal separator under de_DE") {
    val prev = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val l = Bench.line(Seq("q_a" -> 0.12344, "q_b" -> 1234.5), 1234.62344,
        Seq("q_c"), 4.25, "ok", 0.5, 0.05, 1.5, 0.07, "sf0.1", Bench.fixed4)
      assert(l.contains("\"q_a\":0.1234,"), l)
      assert(!l.contains(","  + "1234"), l)
      val json = new ObjectMapper().readTree(l)
      assert(json.get("queries").get("q_b").asDouble === 1234.5)
      assert(json.get("value").asDouble === 1234.6234)
      assert(json.get("failed").get(0).asText === "q_c")
    } finally Locale.setDefault(prev)
  }
}
