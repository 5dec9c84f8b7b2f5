package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.model.Tables
import graft.sources.CopurchaseLayout

/** Batch == stream parity for the graph-support admission: streaming
  * q191's wave baskets over the persisted yesterday counts must emit
  * exactly the delta edge set q191's batch merge computes (merged
  * pruned edges minus yesterday's pruned edges), with replayed
  * baskets — across AND within batches — adding no support and no
  * duplicate emissions.
  */
class GraphSupportStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streaming support crossings == q191 batch delta edges; replays add nothing") {
    val d = SparkTestSession.Sf0001
    val yCounts = CopurchaseLayout.yesterdayPairCounts(spark, d)

    // batch-side ground truth: the q191 merge
    val li = Tables.lineitem(spark, d)
      .where(pmod(col("l_orderkey"), lit(10)) >= 8)
    val waveCounts = CopurchaseLayout.derivePairCounts(li)
    val mergedE = yCounts.union(waveCounts)
      .groupBy(col("u"), col("v")).agg(sum(col("c")).as("c"))
      .where(col("c") >= 2).select(col("u"), col("v"))
    val yesterdayE = yCounts.where(col("c") >= 2).select(col("u"), col("v"))
    val expected = mergedE.join(yesterdayE, Seq("u", "v"), "left_anti")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // the same wave as baskets (duplicates kept — multiplicity matters)
    val baskets = li
      .groupBy(col("l_orderkey"))
      .agg(collect_list(col("l_partkey")).as("parts"))
      .collect()
      .map(r => Basket(r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_.orderkey)
    val (first, second) = baskets.splitAt(baskets.length / 2)

    SparkTestSession.withRocksDbStateStore {
      implicit val sql = spark.sqlContext
      val stream = MemoryStream[Basket]
      val q = GraphSupportStream
        .supportCrossings(stream.toDS(), yCounts)
        .writeStream.outputMode("append")
        .format("memory").queryName("graph_support_out").start()
      try {
        // wave 1 + an IN-batch replay of its first basket
        stream.addData(first ++ first.take(1))
        q.processAllAvailable()
        // wave 2 + cross-batch replays of three wave-1 baskets
        stream.addData(second ++ first.take(3))
        q.processAllAvailable()

        val streamed = spark.table("graph_support_out").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        assert(streamed.toSet === expected,
          "streamed crossings must equal the batch delta edge set")
        assert(streamed.length === expected.size,
          "each edge must emit exactly once")
        assert(expected.nonEmpty, "fixture must exercise the crossing path")
      } finally q.stop()
    }
  }
}
