package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.model.Tables
import graft.queries.CurationQueries

case class IncomingDoc(doc_id: Long, ts: Timestamp, text: String)

/** Batch == stream parity for the curation admission pass: the
  * streaming admissions over q134's own corpus split must emit exactly
  * q134's verdicts (status, best dup_of, jaccard), with replayed
  * documents suppressed by the seen-state rather than re-emitted.
  */
class AdmissionStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streaming admissions == q134 batch verdicts; replays emit nothing") {
    val d = SparkTestSession.Sf0001
    val docs = Tables.documents(spark, d)
    val existing = docs.where(col("doc_id") % 5 =!= 0)
    val t1 = Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = Timestamp.valueOf("2024-01-01 01:00:00")
    val incoming = docs.where(col("doc_id") % 5 === 0)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val (first, second) = incoming.splitAt(incoming.length / 2)

    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[IncomingDoc]
      val q = AdmissionStream.admissions(stream.toDF(), existing)
        .writeStream.outputMode("append")
        .format("memory").queryName("admission_out").start()
      try {
        // batch 1 carries a SAME-batch replay of its first doc: the fold
        // counts distinct shared shingles, so the duplicate rows must
        // neither inflate the jaccard nor emit a second verdict
        stream.addData(first.map { case (id, tx) => IncomingDoc(id, t1, tx) }
          ++ first.take(1).map { case (id, tx) => IncomingDoc(id, t1, tx) })
        q.processAllAvailable()
        // second wave + replays of three first-wave docs: the seen-state
        // must suppress the replays entirely (no second verdict row)
        stream.addData(second.map { case (id, tx) => IncomingDoc(id, t2, tx) }
          ++ first.take(3).map { case (id, tx) => IncomingDoc(id, t2, tx) })
        q.processAllAvailable()

        val streamed = spark.table("admission_out").collect()
          .map(r => r.getLong(0) ->
            (r.getString(1),
              if (r.isNullAt(2)) None else Some(r.getLong(2)),
              if (r.isNullAt(3)) None else Some(r.getDouble(3))))
        assert(streamed.length === incoming.length,
          "each incoming doc must get exactly one verdict (replays suppressed)")

        val batch = CurationQueries.q134IncrementalAdmission.run(spark, d)
          .collect()
          .map(r => r.getLong(0) ->
            (r.getString(1),
              if (r.isNullAt(2)) None else Some(r.getLong(2)),
              if (r.isNullAt(3)) None else Some(r.getDouble(3))))
          .toMap
        assert(streamed.toMap === batch)
        assert(streamed.exists(_._2._1 == "reject"),
          "fixture must exercise the reject path")
        assert(streamed.exists(_._2._1 == "admit"),
          "fixture must exercise the admit path")
      } finally q.stop()
    }
  }
}
