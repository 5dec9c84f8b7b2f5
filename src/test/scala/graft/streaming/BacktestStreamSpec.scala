package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.queries.AnalyticsQueries

/** Batch == stream parity for the horizon-ensemble backtest: streaming
  * the daily rollup day by day must score exactly q145's per-day
  * (actual, yhat) frame — warm-up days dropped, replays suppressed,
  * the ≤7-value window state crossing batch boundaries intact.
  */
class BacktestStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streamed backtest points == q145 batch frame; replays fold nothing") {
    // two types with different daily-count rhythms, 21 days each —
    // enough for 14 scored days past the 7-day warm-up per type
    def cnt(t: String, d: Int) =
      if (t == "x") 1 + (d * 3) % 6 else 2 + (d * 5) % 4
    val ev = (for {
      t <- Seq("x", "y"); d <- 1 to 21; i <- 1 to cnt(t, d)
    } yield (t, java.sql.Timestamp.valueOf(f"2024-03-$d%02d 0$i:00:00"), 1.0))
      .toDF("event_type", "ts", "value")

    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val batch = AnalyticsQueries.forecastBacktestPoints(ev).collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        r.getDouble(2), r4(r.getDouble(3))))
      .sortBy(t => (t._1, t._2))
    assert(batch.length === 2 * 14, "21 days − 7 warm-up per type")

    val days = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(count(lit(1)).cast("double").as("v"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1), r.getDouble(2)))
      .sortBy(_._2.toString)
    val (first, second) = days.splitAt(17)

    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[(String, java.sql.Date, Double)]
      val q = BacktestStream
        .backtestPoints(stream.toDF().toDF("event_type", "ds", "v"))
        .writeStream.outputMode("append")
        .format("memory").queryName("backtest_out").start()
      try {
        stream.addData(first ++ first.take(4)) // + in-batch replay
        q.processAllAvailable()
        stream.addData(second ++ first.take(6)) // + cross-batch replays
        q.processAllAvailable()

        val streamed = spark.table("backtest_out").collect()
          .map(r => (r.getString(0), r.getDate(1).toString,
            r.getDouble(2), r.getDouble(5)))
          .sortBy(t => (t._1, t._2))
        assert(streamed.length === batch.length,
          "each post-warm-up day must be scored exactly once")
        assert(streamed.toSeq === batch.toSeq,
          "streamed ensemble scores must equal the q145 batch frame row for row")

        // the stream's component predictions recompose: yhat ≈ (p1+p2)/2
        // (tolerance: p1/p2 are independently rounded at emission)
        spark.table("backtest_out").collect().foreach { r =>
          assert(math.abs(
            r.getDouble(5) - (r.getDouble(3) + r.getDouble(4)) / 2.0) < 1e-4)
        }
      } finally q.stop()
    }
  }
}
