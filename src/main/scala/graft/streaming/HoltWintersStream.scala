package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import ClosedDayFold.r4

/** Per-type seasonal-forecaster state: the day count (the slot
  * counter — q261 slots by row order, (n−1) mod 7), the coupled
  * (level, trend) pair, and the seven additive seasonal states. Nine
  * scalars + a counter per event type. */
case class HwState(n: Long, l: Double, b: Double, sn: Seq[Double])

/** One seasonal forecast point: the standing forecast l+b+s[slot],
  * the seasonal state USED by it (pre-update), and the refreshed
  * (level, trend). */
case class HwPoint(event_type: String, ds: java.sql.Date, v: Double,
    level: Double, trend: Double, seasonal: Double, forecast: Double,
    err: Double)

/** Streaming Holt–Winters forecaster — the stream twin of q261 and
  * the monitor family's SEASONAL member: where HoltStream's error
  * spikes every weekend on weekly-patterned traffic (trend can't
  * express the cycle), this one's standing forecast carries the
  * seven seasonal states and only real anomalies surface in `err`.
  * One [[ClosedDayFold]] folds each day through q261's additive
  * recurrence (α=0.5, β=0.3, γ=0.2, m=7 defaults) — deseasonalized
  * level update, residual-driven per-slot seasonal refresh, standing
  * forecast scored BEFORE any update. HoltWintersStreamSpec pins the
  * emitted points row-equal to the q261 batch smoother, replays
  * suppressed.
  */
object HoltWintersStream {

  /** (event_type, ds, v) closed-day stream → seasonal forecast
    * points; parameters default to q261's constants. */
  def forecastPoints(daily: DataFrame, alpha: Double = 0.5,
      beta: Double = 0.3, gamma: Double = 0.2,
      period: Int = 7): Dataset[HwPoint] =
    ClosedDayFold[DayV, HwState, HwPoint](daily,
      HwState(0L, 0, 0, Seq.fill(period)(0.0))) { (key, st, d) =>
        if (st.n == 0L)
          (HwState(1L, d.v, 0.0, st.sn),
            Some(HwPoint(key, d.ds, d.v, r4(d.v), 0.0, 0.0, r4(d.v), 0.0)))
        else {
          val slot = (st.n % period).toInt
          val si = st.sn(slot)
          val f = st.l + st.b + si
          val l = alpha * (d.v - si) + (1 - alpha) * (st.l + st.b)
          val b = beta * (l - st.l) + (1 - beta) * st.b
          val sn = st.sn.updated(slot, gamma * (d.v - l) + (1 - gamma) * si)
          (HwState(st.n + 1, l, b, sn),
            Some(HwPoint(key, d.ds, d.v, r4(l), r4(b), r4(si), r4(f),
              r4(d.v - f))))
        }
    }
}
