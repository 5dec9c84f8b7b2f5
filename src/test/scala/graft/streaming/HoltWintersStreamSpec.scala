package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.queries.SeriesQueries

/** Batch == stream parity for the Holt–Winters forecaster: streaming
  * a trended weekly pattern day by day must emit exactly q261's
  * (level, trend, seasonal, forecast, err) rows, with replays
  * suppressed and the (l, b, s[7]) state — including the seasonal
  * ARRAY — crossing batch boundaries intact.
  */
class HoltWintersStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streamed seasonal forecasts == q261 batch rows; replays fold nothing") {
    // weekly pattern + linear drift: both the seasonal slots and the
    // trend state carry real information, and the batch split at day
    // 16 lands mid-cycle so the seasonal array must survive the
    // boundary, not just (l, b)
    val pattern = Seq(50.0, 80.0, 20.0, 65.0, 35.0, 90.0, 10.0)
    val ev = (0 until 35).map { t =>
      ("x", java.sql.Timestamp.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(t).atTime(12, 0)),
        pattern(t % 7) + 2.0 * t)
    }.toDF("event_type", "ts", "value")

    val batch = SeriesQueries.holtWinters(ev).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7)))
      .sortBy(t => (t._1, t._2))

    val days = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(round(sum(col("value")), 2).as("v"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1), r.getDouble(2)))
      .sortBy(_._2.toString)
    val (first, second) = days.splitAt(16)

    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[(String, java.sql.Date, Double)]
      val q = HoltWintersStream
        .forecastPoints(stream.toDF().toDF("event_type", "ds", "v"))
        .writeStream.outputMode("append")
        .format("memory").queryName("hw_out").start()
      try {
        stream.addData(first ++ first.take(4)) // + in-batch replay
        q.processAllAvailable()
        stream.addData(second ++ first.take(6)) // + cross-batch replays
        q.processAllAvailable()

        val streamed = spark.table("hw_out").collect()
          .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
            r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
            r.getDouble(7)))
          .sortBy(t => (t._1, t._2))
        assert(streamed.length === batch.length,
          "each day must emit exactly one forecast point")
        assert(streamed.toSeq === batch.toSeq,
          "streamed seasonal forecasts must equal the batch smoother")
      } finally q.stop()
    }
  }
}
