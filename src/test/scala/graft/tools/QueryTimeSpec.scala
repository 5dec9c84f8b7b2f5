package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkTestSession}

/** QueryTime's counts come from a drained listener bus, not a timed
  * sleep: a counted rep sees exactly its own jobs, stages and tasks. */
class QueryTimeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("two consecutive counted reps of one catalog query report identical jobs, stages and tasks") {
    val fn = SparkTestSession.fixture("q03_lag_join_daily").run _
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

  test("q159's global rank runs in at most 5 jobs, the same on every rep") {
    // one range sort, its shuffle read again for the offsets: a
    // checkpoint, a counts shuffle or an offsets broadcast coming back
    // into GlobalRank would add jobs (the two-phase form ran 9)
    val Seq((_, fn)) = Bench.select(Set("q159_global_ids"))
    val counter = new QueryTime.Counter(spark.sparkContext)
    try {
      QueryTime.rep(spark, counter, SparkTestSession.Sf0001, fn)
      val Seq(a, b) = Seq.fill(2)(
        QueryTime.rep(spark, counter, SparkTestSession.Sf0001, fn))
      assert(a.jobs === b.jobs)
      assert(a.jobs <= 5L, s"q159 ran ${a.jobs} jobs")
    } finally counter.close()
  }
}
