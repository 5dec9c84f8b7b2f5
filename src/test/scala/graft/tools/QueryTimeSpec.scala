package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkTestSession}

/** QueryTime's counts come from a drained listener bus, not a timed
  * sleep: a counted rep sees exactly its own jobs, stages and tasks. */
class QueryTimeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("two consecutive counted reps of one catalog query report identical jobs, stages and tasks") {
    val Seq((_, fn)) = Bench.select(Set("q03_lag_join_daily"))
    val counter = new QueryTime.Counter(spark.sparkContext)
    try {
      // the sentinel jobs that drain the bus count as nothing
      assert(counter.totals() === counter.totals())
      QueryTime.rep(spark, counter, SparkTestSession.Sf0001, fn)
      val Seq(a, b) = Seq.fill(2)(
        QueryTime.rep(spark, counter, SparkTestSession.Sf0001, fn))
      assert(a.jobs > 0 && a.stages > 0 && a.tasks > 0)
      assert((a.jobs, a.stages, a.tasks) === (b.jobs, b.stages, b.tasks))
    } finally counter.close()
  }
}
