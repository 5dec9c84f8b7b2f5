package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import ClosedDayFold.r4

/** One closed day of one event type's series, standardized — the
  * ingest unit of the CUSUM chart and the Page–Hinkley test. */
case class DayZ(event_type: String, ds: java.sql.Date, z: Double)
    extends ClosedDay

/** One chart point: the statistic after folding `ds`, alarm when it
  * exceeds the decision interval h. */
case class CusumPoint(event_type: String, ds: java.sql.Date,
    cusum: Double, alarm: Int)

/** Streaming CUSUM drift detection — the stream twin of q201
  * ([[graft.queries.AnalyticsQueries.cusumDaily]]) and the most
  * naturally streaming operator in the catalog: a drift alarm is only
  * useful the day it fires. Closed daily sums arrive as a stream (the
  * output of a watermark-closed tumbling window, the
  * [[EventsStream]]/[[SinkStream]] machinery), the per-type moments
  * (mu, sd) attach STREAM-STATIC — in production the frozen
  * in-control reference window every control chart standardizes
  * against (recomputed per recalibration, a modeling cadence, not per
  * batch; the batch==stream pin feeds q201's own full-series moments)
  * — and one [[ClosedDayFold]] folds each day through q201's clamp
  * recurrence S_t = max(0, S_{t-1} + z_t − k), alarm at S > h, with
  * one scalar of state per event type. CusumStreamSpec pins the full
  * emitted point set row-equal to the batch chart, replays suppressed.
  */
object CusumStream {

  /** (event_type, ds, v) closed days → (event_type, ds, z), standardized
    * by the static per-type moments (event_type, mu, sd). */
  def zDays(daily: DataFrame, moments: DataFrame): DataFrame =
    daily
      .join(moments.select(col("event_type"), col("mu"), col("sd")),
        Seq("event_type"))
      .select(col("event_type"), col("ds"),
        ((col("v") - col("mu")) / col("sd")).as("z"))

  /** (event_type, ds, v) closed-day stream → chart points, given the
    * static per-type moments (event_type, mu, sd). k/h default to
    * q201's chart constants. */
  def chartPoints(daily: DataFrame, moments: DataFrame,
                  k: Double = 0.5, h: Double = 4.0): Dataset[CusumPoint] =
    ClosedDayFold[DayZ, Double, CusumPoint](zDays(daily, moments), 0.0) {
      (key, before, d) =>
        val s = math.max(0.0, before + d.z - k)
        (s, Some(CusumPoint(key, d.ds, r4(s), if (s > h) 1 else 0)))
    }
}
