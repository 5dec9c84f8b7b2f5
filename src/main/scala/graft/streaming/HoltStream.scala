package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import ClosedDayFold.r4

/** Per-type forecaster state: the coupled (level, trend) pair and the
  * day count. `n` = 0 marks the pre-init state (the first day seeds
  * l = v, b = 0). */
case class HoltState(n: Long, l: Double, b: Double)

/** One forecast point: the one-step-ahead forecast that was STANDING
  * when `ds` arrived, the observed value, the error, and the updated
  * (level, trend). */
case class HoltPoint(event_type: String, ds: java.sql.Date, v: Double,
    level: Double, trend: Double, forecast: Double, err: Double)

/** Streaming Holt forecaster — the stream twin of q229 and the
  * monitor family's FORECASTING member (CUSUM/PH/rolling-z say when
  * the series broke; Holt says what tomorrow should look like, and
  * its standing one-step error is the break signal the others
  * threshold). One [[ClosedDayFold]] folds each day through q229's
  * Holt recurrence — l' = αv + (1−α)(l+b), b' = β(l'−l) + (1−β)b,
  * each closed day scored against the STANDING forecast l+b before
  * updating it, exactly q229's f_t = l_{t−1} + b_{t−1} convention.
  * HoltStreamSpec pins the emitted points row-equal to the batch
  * smoother, replays suppressed.
  */
object HoltStream {

  /** (event_type, ds, v) closed-day stream → forecast points; α/β
    * default to q229's constants. */
  def forecastPoints(daily: DataFrame, alpha: Double = 0.5,
                     beta: Double = 0.3): Dataset[HoltPoint] =
    ClosedDayFold[DayV, HoltState, HoltPoint](daily, HoltState(0L, 0, 0)) {
      (key, st, d) =>
        if (st.n == 0L)
          (HoltState(1L, d.v, 0.0),
            Some(HoltPoint(key, d.ds, d.v, r4(d.v), 0.0, r4(d.v), 0.0)))
        else {
          val f = st.l + st.b
          val l = alpha * d.v + (1 - alpha) * f
          val b = beta * (l - st.l) + (1 - beta) * st.b
          (HoltState(st.n + 1, l, b),
            Some(HoltPoint(key, d.ds, d.v, r4(l), r4(b), r4(f), r4(d.v - f))))
        }
    }
}
