package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCH_DETAIL's `_errors` map: a failed query's entry names its
  * exception class and the first 200 characters of its message, as
  * valid JSON whatever the message holds. */
class BenchSpec extends AnyFunSuite {

  test("errorsMap records class and a 200-char message prefix as valid JSON") {
    val long = "x" * 150 + " \"quoted\" \\ back\nslash\ttab " + "y" * 100
    val json = Bench.errorsMap(Seq(
      "q1_a" -> new IllegalStateException(long),
      "q2_b" -> new RuntimeException(null: String)))
    val tree = new ObjectMapper().readTree(json)
    assert(tree.size === 2)
    assert(tree.get("q1_a").get("class").asText ===
      "java.lang.IllegalStateException")
    assert(tree.get("q1_a").get("message").asText === long.take(200))
    assert(tree.get("q2_b").get("message").asText === "")
  }

  test("errorsMap of no failures is an empty object") {
    assert(Bench.errorsMap(Nil) === "{}")
  }
}
