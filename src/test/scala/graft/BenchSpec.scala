package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's shared harness: the catalog selection every entry point
  * takes, BENCH_DETAIL's `_errors` map (a failed query's entry names
  * its exception class and the first 200 characters of its message,
  * as valid JSON whatever the message holds), and the lint that keeps
  * session set-up and storage resets inside object Bench. */
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

  test("select fails on an unknown query name and names it") {
    val known = SparkEntry.queries.keys.min
    val e = intercept[IllegalArgumentException](
      Bench.select(Set(known, s"${known}_typo")))
    assert(e.getMessage.endsWith(s"unknown query name(s): ${known}_typo"))
  }

  test("select of no names is the whole catalog in name order") {
    val names = Bench.select(Set.empty).map(_._1)
    assert(names.size === 285)
    assert(names === SparkEntry.queries.keys.toSeq.sorted)
  }

  // -- source lint ---------------------------------------------------

  /** Copied session set-up and storage resets: each entry point takes
    * [[Bench.session]] and [[Bench.reset]] instead. */
  private val setUp = Seq(
    """SparkSession\s*\.\s*builder\b""".r,
    """getPersistentRDDs\s*\.\s*values\s*\.\s*foreach\s*\(\s*_\s*\.\s*unpersist\b""".r)

  private def flagged(s: String): Boolean =
    setUp.exists(_.findFirstIn(SourceLint.code(s)).nonEmpty)

  test("the set-up lint flags session builds and storage resets, not comments") {
    Seq("SparkSession.builder().master(m)", "SparkSession\n  .builder\n  .getOrCreate()",
      "sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))",
      "sc.getPersistentRDDs.values\n  .foreach(_.unpersist())")
      .foreach(s => assert(flagged(s), s))
    Seq("Bench.session()", "// SparkSession.builder()",
      "/** `getPersistentRDDs.values.foreach(_.unpersist(true))` */",
      "live.get(id).foreach(_.unpersist(blocking = false))",
      "sc.getPersistentRDDs.keySet")
      .foreach(s => assert(!flagged(s), s))
  }

  test("no session build or storage reset in src/main outside object Bench") {
    // Bench.scala declares object Bench alone, so its file is its object
    assert("""\b(?:object|class|trait)\s+(\w+)""".r
      .findAllMatchIn(SourceLint.codeOf("Bench.scala")).map(_.group(1)).toSeq ===
      Seq("Bench"))
    val sites = setUp.map(SourceLint.sites)
    assert(sites.map(_.count(_._1 == "Bench.scala")) === Seq(1, 1))
    val outside = sites.flatten.filter(_._1 != "Bench.scala")
    assert(outside.isEmpty,
      "session set-up or storage reset copied out of object Bench — use " +
        "Bench.session / Bench.reset:\n" +
        outside.map { case (f, l, t) => s"  $f:$l  $t" }.mkString("\n"))
  }
}
