package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.{Ingest, Pivot}
import graft.ml.{Clustering, FlagshipPipeline, Forecast, Regressors}
import graft.streaming.{DedupStream, EventsStream, SinkStream, StateStream}

object Pipelines {
  /** `FlagshipPipeline.run` composed from its public stage functions,
    * one span per call. Lazy etl frames cost nothing at construction;
    * their work is charged to the ml call that runs them. Returns what
    * the untraced op returns, so both share one output check. */
  def flagshipTraced(spark: SparkSession, input: String, gbtIters: Int,
                     t: Tracer): (Double, Seq[Row]) = {
    val events = graft.model.Tables.events(spark, input)
    val deduped = t("etl.dedup")(Ingest.dedup(events))
    val daily = t("etl.pivot")(Pivot.dailyUserCounters(deduped))
    val feat = t("etl.lag")(FlagshipPipeline.featuresOf(daily)).cache()
    val (_, preds) = t("ml.cluster_ensemble")(Clustering.clusterEnsemble(feat, gbtIters = gbtIters))
    val trainMse = t("ml.mse")(Regressors.mse(preds))
    preds.unpersist()
    feat.unpersist()
    val (head, arFeat) = t("etl.lag")(FlagshipPipeline.arParts(daily))
    val arModel = t("ml.ar_fit")(Regressors.gbt(maxIter = gbtIters).setLabelCol("label").fit(arFeat))
    val rows = t("ml.forecast")(Forecast.autoregressive(arModel, head, 7).collect().toSeq)
    (trainMse, rows)
  }
}

case class StreamEv(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
                    value: Double)

/** The streaming twins' replay: the fixture events in time order, cut
  * into seeded micro-batches, fed through one streaming twin at a time.
  * An op is one micro-batch, from `addData` until `processAllAvailable`
  * returns. */
object StreamReplay {
  final case class Input(batches: Seq[Seq[StreamEv]]) {
    def all: Seq[StreamEv] = batches.flatten
  }
  val Batches = 2
  // out-of-order and re-sent events stay this close to their batch's
  // newest event, well inside the twins' one-day watermark
  private val LateWindowMs = 12L * 3600 * 1000

  def load(spark: SparkSession, data: String, seed: Long): Input = {
    val evs = graft.model.Tables.events(spark, data)
      .select("event_id", "ts", "user_id", "event_type", "value").orderBy("ts", "event_id")
      .collect().map(r => StreamEv(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val rnd = new Random(seed)
    // seeded cut points, each batch at least a third of the mean size
    val mean = evs.length / Batches
    val sizes = {
      val raw = Seq.fill(Batches)(mean / 3 + rnd.nextInt(mean * 4 / 3 + 1))
      val scale = evs.length.toDouble / raw.sum
      val s = raw.map(x => math.max(1, (x * scale).toInt))
      s.init :+ (evs.length - s.init.sum)
    }
    val cut = sizes.scanLeft(0)(_ + _)
    val batches = cut.zip(cut.tail).map { case (x, y) => mutable.ArrayBuffer(evs.slice(x, y): _*) }
    // a seeded share of each batch's last half day arrives one batch
    // late, and a smaller share is sent twice
    val lateShare = 0.05 + rnd.nextDouble() * 0.15
    for (i <- 0 until Batches - 1) {
      val newest = batches(i).last.ts.getTime
      val recent = batches(i).filter(_.ts.getTime >= newest - LateWindowMs)
      val late = recent.filter(_ => rnd.nextDouble() < lateShare)
      val dup = recent.filter(_ => rnd.nextDouble() < 0.02)
      batches(i) --= late
      batches(i + 1).prependAll(late ++ dup)
    }
    Input(batches.map(_.toSeq))
  }

  private def sameRows(got: Seq[Row], want: Seq[Row]): (String, String) = {
    val (g, w) = (ResultHash.of(got), ResultHash.of(want))
    if (g == w) ("ok", "") else ("wrong", s"stream ${g._2} rows ${g._1}, batch ${w._2} rows ${w._1}")
  }

  /** The four twins as ops of a pass: each item feeds every micro-batch
    * through one twin (one op per batch), and the check of its last batch
    * compares the twin's final sink with the batch form of the same twin
    * over the same events. `layer` sums the traced passes' progress
    * counters. */
  final class Twins(ctx: Ctx, in: Input) {
    private val spark = ctx.spark
    private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    private val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private lazy val batchDf = in.all.toDF()
    private val ckRoot = s"${ctx.work}/stream"

    private def twin(name: String, start: (DataFrame, Int) => StreamingQuery)
                    (result: Int => Seq[Row], expected: => Seq[Row]): Unit = {
      val pass = ctx.currentPass
      val stream = MemoryStream[StreamEv]
      val q = start(stream.toDF(), pass)
      try {
        in.batches.zipWithIndex.foreach { case (b, i) =>
          val last = i == in.batches.size - 1
          ctx.op(f"$name.batch$i%02d", s"streaming.$name") {
            stream.addData(b)
            q.processAllAvailable()
          } { _ => if (last) sameRows(result(pass), expected) else ("ok", "") }
        }
        if (ctx.trace) {
          val ps = q.recentProgress
          def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
          layer("trigger_ms") += d("triggerExecution")
          layer("add_batch_ms") += d("addBatch")
          layer("wal_commit_ms") += d("walCommit")
          layer("query_planning_ms") += d("queryPlanning")
          layer("rows") += ps.map(_.numInputRows).sum.toDouble
          ps.lastOption.foreach { p =>
            layer("state_rows") += p.stateOperators.map(_.numRowsTotal).sum.toDouble
            layer("state_bytes") += p.stateOperators.map(_.memoryUsedBytes).sum.toDouble
          }
          layer("state_commit_ms") += ps.map(_.stateOperators.map(_.commitTimeMs).sum).sum.toDouble
        }
      } finally q.stop()
    }

    private def withConf(key: String, value: String)(body: => Unit): Unit = {
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, value)
      try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

    private def memory(df: DataFrame, mode: String, name: String, pass: Int) =
      df.writeStream.outputMode(mode).format("memory").queryName(s"pb_${name}_$pass")
        .option("checkpointLocation", s"$ckRoot/$name-$pass").start()

    val all: Seq[() => Unit] = Seq(
      () => twin("pivot", (df, p) => memory(EventsStream.dailyUserPivot(df), "complete", "pivot", p))(
        p => spark.table(s"pb_pivot_$p").collect().toSeq,
        EventsStream.dailyUserPivot(batchDf).collect().toSeq),
      () => twin("dedup", (df, p) => memory(DedupStream.dedupById(df), "append", "dedup", p))(
        p => spark.table(s"pb_dedup_$p").collect().toSeq,
        DedupStream.dedupById(batchDf).collect().toSeq),
      // transformWithState requires the RocksDB state store
      () => withConf("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        twin("totals", (df, p) => memory(StateStream.runningTotals(df).toDF(), "update", "totals", p))(
          // the last update per user is its final running total
          p => spark.table(s"pb_totals_$p").collect().toSeq.groupBy(_.getLong(0))
            .values.map(_.maxBy(_.getLong(1))).toSeq,
          StateStream.runningTotals(batchDf).toDF().collect().toSeq)
      },
      () => twin("sink", (df, p) => SinkStream.dailyCountsToParquet(df, s"$ckRoot/sink-$p",
          Some(s"$ckRoot/sink-ckpt-$p")))(
        p => spark.read.parquet(s"$ckRoot/sink-$p").collect().toSeq,
        batchDf.groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n")).collect().toSeq))

    /** The progress counters and the bytes of the checkpoints and sinks. */
    def record: Map[String, Any] =
      layer.toMap ++ Map("checkpoint_bytes" -> Files.bytes(new java.io.File(ckRoot)).toDouble)
  }
}
