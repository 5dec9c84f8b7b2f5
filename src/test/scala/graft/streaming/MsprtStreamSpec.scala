package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.queries.ExperimentQueries

/** Batch == stream parity for the always-valid monitor: streaming the
  * planted-effect experiment day by day must emit exactly q240's rows
  * — including the rejection tail — with replayed days folding
  * nothing twice and the running-min p carried across batches.
  */
class MsprtStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streamed monitor == q240 batch rows on a planted effect; replays fold nothing") {
    // the ExperimentSpec planted-effect frame: 40 users × 30 days,
    // arm 0 gets +3 — decisive, so the tail rejects
    val ev = (1 to 30).flatMap { d =>
      (0L to 39L).map { u =>
        val base = 10.0 + (u % 5) + (d % 3)
        ("t", u, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"),
          base + (if (u % 2 == 0) 3.0 else 0.0)) }
    }.toDF("event_type", "user_id", "ts", "value")

    val batch = ExperimentQueries.msprt(ev).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getInt(7)))
      .sortBy(t => (t._1, t._2))
    assert(batch.last._8 === 1, "fixture must exercise the rejection path")

    // the stream's input: the CLOSED paired-arm daily rows, exactly
    // what q240 derives before its cumulative windows
    val daily = ev
      .select(col("event_type"), (col("user_id") % 2).as("arm"),
        to_date(col("ts")).as("ds"), col("value"))
      .groupBy(col("event_type"), col("arm"), col("ds"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("s1"),
        round(sum(col("value") * col("value")), 2).as("s2"))
    val paired = daily.where(col("arm") === 0)
      .select(col("event_type"), col("ds"), col("n").as("na"),
        col("s1").as("sa1"), col("s2").as("sa2"))
      .join(daily.where(col("arm") === 1)
        .select(col("event_type"), col("ds"), col("n").as("nb"),
          col("s1").as("sb1"), col("s2").as("sb2")),
        Seq("event_type", "ds"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5), r.getDouble(6),
        r.getDouble(7)))
      .sortBy(_._2.toString)
    val (first, second) = paired.splitAt(18)

    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[(String, java.sql.Date, Long, Double,
        Double, Long, Double, Double)]
      val q = MsprtStream
        .monitorPoints(stream.toDF().toDF("event_type", "ds", "na", "sa1",
          "sa2", "nb", "sb1", "sb2"))
        .writeStream.outputMode("append")
        .format("memory").queryName("msprt_out").start()
      try {
        // wave 1 + an in-batch replay of its first three days
        stream.addData(first ++ first.take(3))
        q.processAllAvailable()
        // wave 2 + cross-batch replays of five wave-1 days — the
        // running-min p must survive the batch boundary untouched
        stream.addData(second ++ first.take(5))
        q.processAllAvailable()

        val streamed = spark.table("msprt_out").collect()
          .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
            r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
            r.getInt(7)))
          .sortBy(t => (t._1, t._2))
        assert(streamed.length === batch.length,
          "each day must emit exactly one monitor point")
        assert(streamed.toSeq === batch.toSeq,
          "streamed monitor must equal the batch test row for row")
      } finally q.stop()
    }
  }
}
