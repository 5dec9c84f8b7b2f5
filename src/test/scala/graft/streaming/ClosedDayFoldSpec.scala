package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.{SourceLint, SparkTestSession}

/** A toy closed day: the key and the day, nothing else. */
case class ToyDay(event_type: String, ds: java.sql.Date) extends ClosedDay

/** A toy fold's point: the running day count after folding `ds`. */
case class CountPoint(event_type: String, ds: java.sql.Date, n: Long)

/** The day-ordering replay contract of [[ClosedDayFold]], on a running
  * count whose emitted n tells the fold order: days fold in ds order
  * whatever order a batch carries them in, a day ≤ the last folded day
  * drops (seen or not), same-day repeats emit once, and the count
  * carries across batches. The lint keeps the contract in that one
  * module. */
class ClosedDayFoldSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def days(key: String, ds: Int*) =
    ds.map(d => ToyDay(key, java.sql.Date.valueOf(s"2024-01-0$d")))

  test("closed days fold in ds order, stale days drop, repeats emit once, state carries") {
    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[ToyDay]
      val q = ClosedDayFold[ToyDay, Long, CountPoint](stream.toDF(), 0L) {
        (key, n, d) => (n + 1, Some(CountPoint(key, d.ds, n + 1)))
      }.writeStream.outputMode("append")
        .format("memory").queryName("fold_out").start()
      def points() = spark.table("fold_out").as[CountPoint].collect()
        .map(p => (p.event_type, p.ds.toLocalDate.getDayOfMonth, p.n))
        .sortBy(p => (p._1, p._2)).toSeq
      try {
        // days 5, 3, 4 out of ds order, day 4 twice
        stream.addData(days("a", 5, 3, 4, 4))
        q.processAllAvailable()
        assert(points() === Seq(("a", 3, 1L), ("a", 4, 2L), ("a", 5, 3L)))
        // a never-seen day 1 and a replayed day 3, both older than the
        // last folded day 5; then new day 7 and a fresh key
        stream.addData(days("a", 1, 3, 7) ++ days("b", 2))
        q.processAllAvailable()
        assert(points() === Seq(("a", 3, 1L), ("a", 4, 2L), ("a", 5, 3L),
          ("a", 7, 4L), ("b", 2, 1L)))
        // a batch of stale days only: nothing emitted, state unchanged
        stream.addData(days("a", 5) ++ days("b", 1))
        q.processAllAvailable()
        stream.addData(days("a", 9))
        q.processAllAvailable()
        assert(points().takeRight(2) === Seq(("a", 9, 5L), ("b", 2, 1L)))
        assert(points().length === 6)
      } finally q.stop()
    }
  }

  private val epochDay = """\btoEpochDay\b""".r

  /** The sites outside ClosedDayFold.scala under streaming/. */
  private def strays(sites: Seq[(String, Int, String)]) = sites.filter {
    case (f, _, _) => f.startsWith("streaming/") && f != "streaming/ClosedDayFold.scala"
  }

  test("the lint flags a planted replay filter outside ClosedDayFold") {
    val planted = "val fresh = rows.toSeq\n  .map(r => r.ds.toLocalDate.toEpochDay -> r)"
    assert(epochDay.findFirstIn(SourceLint.code(planted)).nonEmpty)
    assert(epochDay.findFirstIn(SourceLint.code("// r.ds.toLocalDate.toEpochDay")).isEmpty)
    assert(strays(Seq(("streaming/CusumStream.scala", 40, planted))).nonEmpty)
    assert(strays(Seq(("streaming/ClosedDayFold.scala", 40, planted),
      ("queries/SeriesQueries.scala", 40, planted))).isEmpty)
  }

  test("under streaming/, toEpochDay appears only in ClosedDayFold.scala") {
    val sites = SourceLint.sites(epochDay)
    assert(sites.exists(_._1 == "streaming/ClosedDayFold.scala"),
      s"ClosedDayFold's replay filter not found: $sites")
    val bad = strays(sites)
    assert(bad.isEmpty,
      "the closed-day replay filter lives in ClosedDayFold — fold through it:\n" +
        bad.map { case (f, l, t) => s"  $f:$l  $t" }.mkString("\n"))
  }
}
