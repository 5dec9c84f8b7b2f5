package graft.ml

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Ingest, LagFeatures, Pivot}
import graft.model.Tables

/** E2E replay of the reference's attempt-5 flagship (SURVEY.md §5.2.5):
  * ingest → dedup → pivot-agg → per-entity daily rollup → lag features →
  * KMeans cluster tag → per-cluster GBT → autoregressive forecast → MSE.
  * Entities are fixture users (the "artists"); the target is daily
  * event count (the "plays").
  *
  * Also a runnable main for eyeballing the full flow on a fixture dir:
  *   runMain graft.ml.FlagshipPipeline [sfDir] [steps]
  */
object FlagshipPipeline {

  final case class Result(trainMse: Double, forecast: DataFrame)

  /** Stage builders — shared verbatim by [[run]] and perfbench's
    * per-stage pipeline spans, so the stage timings can never drift
    * from the shipped composition (round-8 review finding: a probe
    * used to copy these blocks). */
  def dailyOf(spark: SparkSession, sfDir: String): DataFrame =
    // ingest + dedup + pivot (ref 流行音乐趋势预测.md:29-98 modernized)
    Pivot.dailyUserCounters(Ingest.dedup(Tables.events(spark, sfDir)))

  /** Lag features via the gap-exact shift-join (J5) + weekday (F5),
    * assembled into `features`/`label`. */
  def featuresOf(daily: DataFrame): DataFrame = {
    val lagged = LagFeatures.shiftJoin(
        LagFeatures.shiftJoin(daily, "user_id", "ds", 1,
          Seq("n_events", "clicks", "purchases"), "_y1"),
        "user_id", "ds", 2, Seq("n_events"), "_y2")
      .withColumn("weekday", dayofweek(col("ds")).cast("double"))
      .withColumn("label", col("n_events").cast("double"))
    val featCols = Array("n_events_y1", "clicks_y1", "purchases_y1",
      "n_events_y2", "weekday")
    new VectorAssembler().setInputCols(featCols)
      .setOutputCol("features").transform(lagged)
  }

  def run(spark: SparkSession, sfDir: String, forecastSteps: Int = 7,
          gbtIters: Int = 10): Result = {
    val daily = dailyOf(spark, sfDir)
    val feat = featuresOf(daily).cache()
    // KMeans tag + one GBT per cluster (M6/M7)
    val (_, preds) = Clustering.clusterEnsemble(feat, gbtIters = gbtIters)
    val trainMse = Regressors.mse(preds) // reads the cached preds
    preds.unpersist()
    feat.unpersist()
    val (head, arFeat) = arParts(daily)
    val arModel =
      Regressors.gbt(maxIter = gbtIters).setLabelCol("label").fit(arFeat)
    val forecast = Forecast.autoregressive(arModel, head, forecastSteps)
    Result(trainMse, forecast)
  }

  /** Autoregressive stage inputs (M12): the per-user forecast head
    * (last observed day with lag) and the assembled one-step-ahead
    * training frame — y=(n_events), y_prev=(previous day), one global
    * model over all users. The lagged frame is built ONCE and feeds
    * both. One-step-ahead alignment: the label is the NEXT day's
    * count, features are (today, yesterday) — matching exactly what
    * the forecast loop feeds the model. Training with label = today's
    * count while also passing it as feature y would be target leakage:
    * the GBT learns the identity and every forecast degenerates to a
    * flat repeat of the last observation. */
  def arParts(daily: DataFrame): (DataFrame, DataFrame) = {
    val lastDay = daily
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ds").desc)))
      .filter(col("rk") === 1)
    val arBase = LagFeatures.windowLag(daily, "user_id", "ds", 1,
      Seq("n_events"), "_prev")
    val head = arBase
      .join(lastDay.select(col("user_id"), col("ds")), Seq("user_id", "ds"), "left_semi")
      .select(col("user_id").as("key"), col("ds"),
        col("n_events").cast("double").as("y"),
        col("n_events_prev").cast("double").as("y_prev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ds"))
    val arTrain = arBase
      .withColumn("label", lead(col("n_events"), 1).over(w).cast("double"))
      .where(col("label").isNotNull) // last observed day has no target
      .select(col("label"),
        col("n_events").cast("double").as("y"),
        col("n_events_prev").cast("double").as("y_prev"))
    val arFeat = new VectorAssembler().setInputCols(Array("y", "y_prev"))
      .setOutputCol("features").transform(arTrain)
    (head, arFeat)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val steps = args.lift(1).map(_.toInt).getOrElse(7)
    val spark = graft.Bench.session()
    val r = run(spark, sfDir, steps)
    println(f"[flagship] train MSE = ${r.trainMse}%.3f")
    println(s"[flagship] forecast rows = ${r.forecast.count()}")
    r.forecast.orderBy("key", "ds").show(20, false)
    spark.stop()
  }
}
