package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.queries.SeriesQueries

/** Batch == stream parity for the Page–Hinkley test: streaming q230's
  * planted-shift series day by day must emit exactly the batch rows —
  * including the held tail alarms — with replayed days (across and
  * within batches) folding nothing twice.
  */
class PageHinkleyStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streamed PH points == q230 batch rows on the planted shift; replays fold nothing") {
    // the SeriesSpec planted-shift fixture: 16 calm days then 12 at
    // +60 — the batch test alarms and holds in the tail
    val shifted = ((1 to 16).map(d => ("drift",
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"),
      100.0 + (d % 3))) ++
      (17 to 28).map(d => ("drift",
        java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"),
        160.0 + (d % 3))))
      .toDF("event_type", "ts", "value")

    val batch = SeriesQueries.pageHinkley(shifted).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
        r.getDouble(3), r.getInt(4)))
      .sortBy(t => (t._1, t._2))
    assert(batch.last._5 === 1, "fixture must exercise the alarm path")

    // the stream's input: the CLOSED rounded daily sums and the same
    // full-series moments the batch standardizes with
    val daily = shifted
      .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(round(sum(col("value")), 2).as("v"))
      .localCheckpoint(true)
    val moments = daily.groupBy(col("event_type"))
      .agg(avg(col("v")).as("mu"), stddev_samp(col("v")).as("sd"))
      .localCheckpoint(true)
    val days = daily.collect()
      .map(r => (r.getString(0), r.getDate(1), r.getDouble(2)))
      .sortBy(_._2.toString)
    val (first, second) = days.splitAt(18)

    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[(String, java.sql.Date, Double)]
      val q = PageHinkleyStream
        .testPoints(stream.toDF().toDF("event_type", "ds", "v"), moments)
        .writeStream.outputMode("append")
        .format("memory").queryName("ph_out").start()
      try {
        // wave 1 + an in-batch replay of its first three days
        stream.addData(first ++ first.take(3))
        q.processAllAvailable()
        // wave 2 + cross-batch replays of five wave-1 days
        stream.addData(second ++ first.take(5))
        q.processAllAvailable()

        val streamed = spark.table("ph_out").collect()
          .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
            r.getDouble(3), r.getInt(4)))
          .sortBy(t => (t._1, t._2))
        assert(streamed.length === batch.length,
          "each day must emit exactly one test point")
        assert(streamed.toSeq === batch.toSeq,
          "streamed PH test must equal the batch test row for row")
      } finally q.stop()
    }
  }

  test("self-calibration: the running mean damps the post-shift increment") {
    // 10 calm days then 30 at a new level: a fixed-target CUSUM's
    // per-day increment stays constant (z − k), but PH's increment is
    // z_t − mean(z_1..z_t) − δ — it DECAYS as the running mean absorbs
    // the new level (≈ shift·n_old/t). Pin the decay: the accumulator's
    // growth over the last 5 days must be under half its growth over
    // the first 5 post-shift days. This is the operator's
    // distinguishing semantics beyond batch parity.
    val vals = (1 to 10).map(_ => 100.0) ++ (1 to 30).map(_ => 130.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
      ("x", java.sql.Timestamp.valueOf(s"$d 12:00:00"), v)
    }
    val out = SeriesQueries.pageHinkley(
      rows.toDF("event_type", "ts", "value")).collect()
    val m = out.map(_.getDouble(2))
    assert(out.map(_.getInt(4)).sum > 0, "the shift must alarm")
    val early = m(14) - m(9)  // first 5 post-shift increments
    val late = m(39) - m(34)  // last 5
    assert(late < early / 2,
      s"running mean must damp the increment (early $early late $late)")
  }
}
