package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.model.Tables
import graft.queries.TextQueries

/** Batch == stream parity for the ExactSubstr admission pass: the
  * streaming span detection over q154's own corpus split (incoming =
  * doc_id % 17 == 0) must emit exactly q154's (doc_id, span_start,
  * span_len) rows, with replayed documents suppressed by the
  * seen-state rather than re-emitted.
  */
class SubstrAdmissionStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streaming substr admission == q154 batch spans; replays emit nothing") {
    val d = SparkTestSession.Sf0001
    val docs = Tables.documents(spark, d)
    val existing = docs.where(col("doc_id") % 17 =!= 0)
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-01-01 01:00:00")
    val incoming = docs.where(col("doc_id") % 17 === 0)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val (first, second) = incoming.splitAt(incoming.length / 2)

    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[IncomingDoc]
      val q = SubstrAdmissionStream.duplicatedSpans(stream.toDF(), existing)
        .writeStream.outputMode("append")
        .format("memory").queryName("substr_admission_out").start()
      try {
        // batch 1 carries a SAME-batch replay of its first doc: the fold
        // dedups positions, so duplicate candidate rows must neither
        // widen spans nor emit a second copy
        stream.addData(first.map { case (id, tx) => IncomingDoc(id, t1, tx) }
          ++ first.take(1).map { case (id, tx) => IncomingDoc(id, t1, tx) })
        q.processAllAvailable()
        // second wave + replays of three first-wave docs: the seen-state
        // must suppress the replays entirely
        stream.addData(second.map { case (id, tx) => IncomingDoc(id, t2, tx) }
          ++ first.take(3).map { case (id, tx) => IncomingDoc(id, t2, tx) })
        q.processAllAvailable()

        val streamed = spark.table("substr_admission_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val batch = TextQueries.q154IncrementalSubstr.run(spark, d).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(streamed.toSet === batch.toSet,
          "streamed spans must equal q154's batch spans")
        assert(streamed.length === batch.length,
          "replays must be suppressed — no duplicate span rows")
        assert(batch.nonEmpty, "fixture must exercise the span path")
      } finally q.stop()
    }
  }
}
