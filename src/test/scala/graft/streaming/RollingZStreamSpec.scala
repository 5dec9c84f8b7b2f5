package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.queries.SeriesQueries

/** Batch == stream parity for the rolling z screen: streaming q231's
  * planted regime break day by day must emit exactly the batch rows —
  * the spike scored against its trailing window, never against
  * itself — with replays suppressed and the window carried across
  * batch boundaries.
  */
class RollingZStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streamed screen == q231 batch rows on a regime break; replays fold nothing") {
    // 14 calm days (100 ± 1), a 200 spike, then 10 more calm days —
    // the post-spike days exercise the window ABSORBING the spike
    val ev = ((1 to 14).map(d => ("x",
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"),
      100.0 + (d % 2))) ++
      Seq(("x", java.sql.Timestamp.valueOf("2024-01-15 12:00:00"), 200.0)) ++
      (16 to 25).map(d => ("x",
        java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"),
        100.0 + (d % 2))))
      .toDF("event_type", "ts", "value")

    val batch = SeriesQueries.rollingZ(ev).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
        r.getLong(3), if (r.isNullAt(6)) None else Some(r.getDouble(6)),
        r.getInt(7)))
      .sortBy(t => (t._1, t._2))
    assert(batch.exists(_._6 === 1), "fixture must flag the spike")

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
      val q = RollingZStream
        .screenPoints(stream.toDF().toDF("event_type", "ds", "v"))
        .writeStream.outputMode("append")
        .format("memory").queryName("rollz_out").start()
      try {
        // wave 1 (ends mid-window) + an in-batch replay of three days
        stream.addData(first ++ first.take(3))
        q.processAllAvailable()
        // wave 2 spans the spike + cross-batch replays of five days —
        // the trailing window must have crossed the boundary intact
        stream.addData(second ++ first.take(5))
        q.processAllAvailable()

        val streamed = spark.table("rollz_out").collect()
          .map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2),
            r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4)),
            r.getInt(5)))
          .sortBy(t => (t._1, t._2))
        assert(streamed.length === batch.length,
          "each day must emit exactly one screened point")
        assert(streamed.toSeq === batch.toSeq,
          "streamed screen must equal the batch screen row for row")
      } finally q.stop()
    }
  }
}
