package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.queries.AnalyticsQueries

/** Batch == stream parity for the CUSUM chart: streaming q201's
  * planted-shift series day by day must emit exactly the batch chart's
  * (event_type, ds, cusum, alarm) rows — including the tail alarms —
  * with replayed days (across and within batches) folding nothing
  * twice.
  */
class CusumStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streamed chart points == q201 batch rows on the planted shift; replays fold nothing") {
    // the AnalyticsSpec planted-shift fixture: 30 in-control days at
    // level 10, then 10 days at 13 — the batch chart alarms in the tail
    val shifted = (1 to 40).map { day =>
      val base = if (day <= 30) 10.0 else 13.0
      val d0 = java.time.LocalDate.of(2024, 1, 1).plusDays(day - 1)
      ("drift", java.sql.Timestamp.valueOf(s"$d0 00:00:00"),
        base + 0.5 * math.sin(day.toDouble))
    }.toDF("event_type", "ts", "value")

    val batch = AnalyticsQueries.cusumDaily(shifted).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
        r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    assert(batch.takeRight(5).exists(_._4 === 1),
      "fixture must exercise the alarm path")

    // the stream's input: the CLOSED daily sums, and the same moments
    // the batch standardizes with (the pin's frozen reference window)
    val daily = shifted
      .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(sum(col("value")).as("v"))
      .localCheckpoint(true)
    val moments = daily.groupBy(col("event_type"))
      .agg(avg(col("v")).as("mu"), stddev_samp(col("v")).as("sd"))
      .localCheckpoint(true)
    val days = daily.collect()
      .map(r => (r.getString(0), r.getDate(1), r.getDouble(2)))
      .sortBy(_._2.toString)
    val (first, second) = days.splitAt(25)

    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[(String, java.sql.Date, Double)]
      val q = CusumStream
        .chartPoints(stream.toDF().toDF("event_type", "ds", "v"), moments)
        .writeStream.outputMode("append")
        .format("memory").queryName("cusum_out").start()
      try {
        // wave 1 + an IN-batch replay of its first three days
        stream.addData(first ++ first.take(3))
        q.processAllAvailable()
        // wave 2 + cross-batch replays of five wave-1 days
        stream.addData(second ++ first.take(5))
        q.processAllAvailable()

        val streamed = spark.table("cusum_out").collect()
          .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
            r.getInt(3)))
          .sortBy(t => (t._1, t._2))
        assert(streamed.length === batch.length,
          "each day must emit exactly one chart point")
        assert(streamed.toSeq === batch.toSeq,
          "streamed chart must equal the batch chart row for row")
      } finally q.stop()
    }
  }

  test("per-type independence: an in-control type stays quiet while a drifting one alarms") {
    val mk = (tpe: String, level: Int => Double) => (1 to 40).map { day =>
      val d = java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(day - 1))
      (tpe, d, level(day) + 0.5 * math.sin(day.toDouble))
    }
    val drifting = mk("drift", d => if (d <= 30) 10.0 else 13.0)
    val steady = mk("steady", _ => 10.0)
    val daily = (drifting ++ steady).toDF("event_type", "ds", "v")
      .localCheckpoint(true)
    val moments = daily.groupBy(col("event_type"))
      .agg(avg(col("v")).as("mu"), stddev_samp(col("v")).as("sd"))
      .localCheckpoint(true)

    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[(String, java.sql.Date, Double)]
      val q = CusumStream
        .chartPoints(stream.toDF().toDF("event_type", "ds", "v"), moments)
        .writeStream.outputMode("append")
        .format("memory").queryName("cusum_two").start()
      try {
        stream.addData(drifting ++ steady)
        q.processAllAvailable()
        val byType = spark.table("cusum_two").collect()
          .map(r => (r.getString(0), r.getInt(3)))
          .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        assert(byType("drift") > 0, "drifting type must alarm")
        assert(byType("steady") === 0, "steady type must stay quiet")
      } finally q.stop()
    }
  }
}
