package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.queries.SeriesQueries

/** Batch == stream parity for the Holt forecaster: streaming a ramp
  * day by day must emit exactly q229's (level, trend, forecast, err)
  * rows, with replays suppressed and the (l, b) state crossing batch
  * boundaries intact.
  */
class HoltStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streamed forecasts == q229 batch rows on a kinked ramp; replays fold nothing") {
    // a ramp with a slope change at day 15 — exercises the trend
    // state actually re-converging, not just holding
    val ev = (1 to 28).map { d =>
      val v = if (d <= 14) 10.0 * d else 140.0 + 25.0 * (d - 14)
      ("x", java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"), v)
    }.toDF("event_type", "ts", "value")

    val batch = SeriesQueries.holtDaily(ev).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .sortBy(t => (t._1, t._2))

    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(round(sum(col("value")), 2).as("v"))
    val days = daily.collect()
      .map(r => (r.getString(0), r.getDate(1), r.getDouble(2)))
      .sortBy(_._2.toString)
    val (first, second) = days.splitAt(13)

    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[(String, java.sql.Date, Double)]
      val q = HoltStream
        .forecastPoints(stream.toDF().toDF("event_type", "ds", "v"))
        .writeStream.outputMode("append")
        .format("memory").queryName("holt_out").start()
      try {
        stream.addData(first ++ first.take(3)) // + in-batch replay
        q.processAllAvailable()
        stream.addData(second ++ first.take(5)) // + cross-batch replays
        q.processAllAvailable()

        val streamed = spark.table("holt_out").collect()
          .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
            r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
          .sortBy(t => (t._1, t._2))
        assert(streamed.length === batch.length,
          "each day must emit exactly one forecast point")
        assert(streamed.toSeq === batch.toSeq,
          "streamed forecasts must equal the batch smoother row for row")
      } finally q.stop()
    }
  }
}
