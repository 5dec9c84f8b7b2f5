package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

case class ValEv(user_id: Long, value: Double)
case class TsEv(user_id: Long, ts: java.sql.Timestamp)

/** transformWithState running totals: cross-batch state accumulation
  * must equal the batch groupBy over the full input. */
class StateStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val batch1 = Seq(ValEv(1, 1.0), ValEv(2, 2.0), ValEv(1, 3.0))
  private val batch2 = Seq(ValEv(2, 4.0), ValEv(3, 5.0), ValEv(1, 6.0))

  test("running totals accumulate across micro-batches (== batch rollup)") {
    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[ValEv]
      val q = StateStream.runningTotals(stream.toDF())
        .writeStream.outputMode("update")
        .format("memory").queryName("totals_out").start()
      try {
        stream.addData(batch1)
        q.processAllAvailable()
        stream.addData(batch2)
        q.processAllAvailable()
        // last emitted row per user = final running total
        val streamed = spark.table("totals_out").collect()
          .groupBy(_.getLong(0))
          .map { case (u, rows) => u -> rows.map(r => (r.getLong(1), r.getDouble(2))).maxBy(_._1) }
        val expected = (batch1 ++ batch2).groupBy(_.user_id)
          .map { case (u, evs) => u -> (evs.size.toLong, evs.map(_.value).sum) }
        assert(streamed === expected)
        assert(expected(1L) === ((3L, 10.0)))
      } finally q.stop()
    }
  }

  test("idle sessions close when the WATERMARK passes last event + gap") {
    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[TsEv]
      val q = StateStream.idleSessions(stream.toDF(), gap = "10 minutes")
        .writeStream.outputMode("append")
        .format("memory").queryName("idle_out").start()
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      try {
        // user 1: two events 5 min apart (one session)
        stream.addData(Seq(TsEv(1L, ts("2024-01-01 09:00:00")),
          TsEv(1L, ts("2024-01-01 09:05:00"))))
        q.processAllAvailable()
        // nothing closed yet: watermark has not passed 09:15
        assert(spark.table("idle_out").count() === 0)
        // a much-later event (user 2) advances the watermark past the gap
        stream.addData(Seq(TsEv(2L, ts("2024-01-01 12:00:00"))))
        q.processAllAvailable()
        // one more batch so the new watermark drives timer expiry
        stream.addData(Seq(TsEv(2L, ts("2024-01-01 12:00:01"))))
        q.processAllAvailable()
        val closed = spark.table("idle_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        assert(closed.toSeq.contains(
          (1L, 2L,
            ts("2024-01-01 09:00:00").getTime * 1000L,
            ts("2024-01-01 09:05:00").getTime * 1000L)),
          s"user 1 session must close: ${closed.toSeq}")
        // user 2's session is still open (watermark has not passed 12:10)
        assert(!closed.exists(_._1 == 2L))
      } finally q.stop()
    }
  }

  test("two events a gap apart in ONE batch yield two sessions, not one merged") {
    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[TsEv]
      val q = StateStream.idleSessions(stream.toDF(), gap = "10 minutes")
        .writeStream.outputMode("append")
        .format("memory").queryName("split_out").start()
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      try {
        // 09:00 and 11:00 share a micro-batch; the timer never saw the
        // first event alone, so the INPUT path must close it — the buggy
        // blind-merge form fused them into one 09:00-11:00 session
        stream.addData(Seq(TsEv(1L, ts("2024-01-01 09:00:00")),
          TsEv(1L, ts("2024-01-01 11:00:00"))))
        q.processAllAvailable()
        val closed = spark.table("split_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        assert(closed.toSeq === Seq((1L, 1L,
          ts("2024-01-01 09:00:00").getTime * 1000L,
          ts("2024-01-01 09:00:00").getTime * 1000L)),
          s"first session must close from the input path: ${closed.toSeq}")
      } finally q.stop()
    }
  }

  test("month-denominated gaps are rejected, not silently zero") {
    val err = intercept[IllegalArgumentException] {
      StateStream.idleSessions(
        Seq(TsEv(1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00")))
          .toDF(), gap = "1 month")
    }
    assert(err.getMessage.contains("month"))
  }
}
