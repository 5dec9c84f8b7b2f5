package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.text.Components

/** Stream-fed incremental component maintenance == one-shot batch
  * closure, across waves that bridge old clusters, introduce brand-new
  * ones, and replay already-merged edges.
  */
class ComponentStreamSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("foreachBatch maintenance over 3 waves == batch connectedComponents; replays are no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("compstream").toString
    // yesterday's corpus: two clusters {1,2,3} and {10,11}
    val initialEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("src", "dst")
    val initial = Components.connectedComponents(initialEdges)
    val m = new ComponentMaintainer(spark, dir, initial)

    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, Long)]
    val q = stream.toDF().toDF("src", "dst")
      .writeStream.outputMode("append").foreachBatch(m.sink).start()
    try {
      // wave 1: a bridge (3-10) merging the two old clusters + a new
      // node 20 attaching to an old one
      stream.addData((3L, 10L), (11L, 20L))
      q.processAllAvailable()
      // wave 2: a brand-new wave-only cluster {30,31,32}
      stream.addData((30L, 31L), (31L, 32L))
      q.processAllAvailable()
      // wave 3: pure replays of already-merged edges — must change
      // nothing (they contract to self-loops)
      val before = m.current.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      stream.addData((3L, 10L), (30L, 31L))
      q.processAllAvailable()
      val after = m.current.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(after === before, "replayed edges must be no-ops")

      // final state == batch closure over ALL edges ever seen
      val allEdges = initialEdges.unionAll(Seq(
        (3L, 10L), (11L, 20L), (30L, 31L), (31L, 32L)).toDF("src", "dst"))
      val batch = Components.connectedComponents(allEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(after === batch,
        s"incremental $after != batch $batch")
      // and the min-id invariant holds (components named by their min)
      assert(after.values.toSet.subsetOf(after.keySet))
      assert(after.forall { case (n, c) => c <= n })
    } finally q.stop()
  }

  test("a restarted maintainer resumes from the last complete epoch, not epoch0") {
    val dir = java.nio.file.Files.createTempDirectory("compresume").toString
    val initial = Components.connectedComponents(
      Seq((1L, 2L), (10L, 11L)).toDF("src", "dst"))
    val m1 = new ComponentMaintainer(spark, dir, initial)
    m1.update(Seq((2L, 10L)).toDF("src", "dst")) // merges the clusters
    val merged = m1.current.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // crash + restart: a fresh maintainer over the same stateDir gets
    // the ORIGINAL initial assignment again — it must discard it and
    // re-open at the merged epoch1, not silently rewind to epoch0
    val m2 = new ComponentMaintainer(spark, dir, initial)
    val resumed = m2.current.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed === merged,
      s"restart rewound the maintainer: $resumed != $merged")
    assert(resumed(10L) === 1L, "the pre-crash merge must survive restart")

    // and the resumed maintainer keeps advancing from there
    m2.update(Seq((11L, 20L)).toDF("src", "dst"))
    assert(m2.current.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap.apply(20L) === 1L)
  }

  test("a restart skips a torn epoch and a staging leftover, then publishes over them") {
    val dir = java.nio.file.Files.createTempDirectory("comptorn").toString
    def assignment(m: ComponentMaintainer) =
      m.current.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val initial = Components.connectedComponents(
      Seq((1L, 2L), (10L, 11L)).toDF("src", "dst"))
    val m1 = new ComponentMaintainer(spark, dir, initial)
    m1.update(Seq((2L, 10L)).toDF("src", "dst")) // epoch1
    val atN = assignment(m1)

    // a crash while epoch2 was being written: a torn epoch2 (parquet
    // without its marker, as an in-place writer leaves it) and a
    // staging sibling a killed publish leaves behind
    val bogus = Seq((99L, 99L)).toDF("node", "component")
    bogus.write.parquet(s"$dir/epoch2")
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "epoch2", "_SUCCESS"))
    bogus.write.parquet(s"$dir/.epoch2.staging-${java.util.UUID.randomUUID()}")

    val m2 = new ComponentMaintainer(spark, dir, initial)
    assert(assignment(m2) === atN, "the restart must resume at epoch1")

    m2.update(Seq((11L, 20L)).toDF("src", "dst"))
    assert(graft.sources.SourceLayout.complete(s"$dir/epoch2"))
    val next = assignment(m2)
    assert(next === atN + (20L -> 1L), "epoch2 must be the merge of epoch1")
    assert(assignment(new ComponentMaintainer(spark, dir, initial)) === next)
  }
}
