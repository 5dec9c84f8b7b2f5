package graft.queries

import java.util.concurrent.{CompletableFuture, CompletionException}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.tools.QueryTime

/** The JVM's background warm-up: one handle per JVM, no Spark job, and
  * a failure that stays in the handle instead of reaching a query. */
class WarmUpSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("a second start returns the same handle") {
    assert(WarmUp.start(spark) eq WarmUp.start(spark))
    assert(WarmUp.start(spark.newSession()) eq WarmUp.start(spark))
  }

  test("the warm-up's steps and awaiting its handle start no Spark job") {
    val counter = new QueryTime.Counter(spark.sparkContext)
    try {
      val (j0, _, _) = counter.totals()
      WarmUp.launch(new CompletableFuture[Unit])(WarmUp.steps(spark)).join()
      WarmUp.start(spark).join()
      val (j1, _, _) = counter.totals()
      assert(j1 === j0)
    } finally counter.close()
  }

  test("a failed warm-up stays in its handle and a query still runs") {
    val failed = WarmUp.launch(new CompletableFuture[Unit])(throw new IllegalStateException("boom"))
    val e = intercept[CompletionException](failed.join())
    assert(e.getCause.getMessage === "boom")
    val saved = WarmUp.swap(failed)
    try {
      assert(WarmUp.start(spark) eq failed)
      val q = SparkTestSession.fixture("q01_lineitem_agg")
      assert(q.run(spark, SparkTestSession.Sf0001).collect().nonEmpty)
    } finally WarmUp.swap(saved)
  }
}
