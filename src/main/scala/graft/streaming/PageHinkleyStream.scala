package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import ClosedDayFold.r4

/** Per-type Page–Hinkley state: the four coupled scalars of q230's
  * recurrence — day count, Σz (for the RUNNING mean PH self-calibrates
  * against), the deviation accumulator m, and its running minimum.
  * O(|event types|) total, the CUSUM chart's footprint class. */
case class PhState(n: Long, s: Double, m: Double, mm: Double)

/** One test point: the accumulator and gap after folding `ds`, alarm
  * when m − min(m) exceeds the threshold λ. */
case class PhPoint(event_type: String, ds: java.sql.Date, m: Double,
    ph: Double, alarm: Int)

/** Streaming Page–Hinkley drift detection — the stream twin of q230
  * ([[graft.queries.SeriesQueries.pageHinkley]]), CusumStream's
  * self-calibrating sibling: where the CUSUM chart needs its target
  * mean frozen up front, PH tracks deviation from the mean of
  * EVERYTHING SEEN SO FAR, so the only static input is the
  * standardization moments (the same frozen in-control reference
  * window argument as [[CusumStream]]; the batch==stream pin feeds
  * q230's own full-series moments so the recurrences are identical).
  * One [[ClosedDayFold]] folds each day through q230's recurrence —
  * m_t = m_{t−1} + (z_t − mean(z_1..z_t) − δ), M_t = min(m_1..m_t),
  * alarm at m − M > λ; the running mean is why the state carries
  * (n, Σz). PageHinkleyStreamSpec pins the emitted points row-equal
  * to the batch test, replays suppressed.
  */
object PageHinkleyStream {

  /** (event_type, ds, v) closed-day stream → PH points, given the
    * static per-type moments (event_type, mu, sd). δ/λ default to
    * q230's constants. */
  def testPoints(daily: DataFrame, moments: DataFrame,
                 delta: Double = 0.05, lambda: Double = 3.0)
      : Dataset[PhPoint] =
    ClosedDayFold[DayZ, PhState, PhPoint](CusumStream.zDays(daily, moments),
      PhState(0L, 0, 0, 0)) { (key, st, d) =>
        val n = st.n + 1
        val s = st.s + d.z
        val m = st.m + (d.z - s / n - delta)
        val mm = if (n == 1) m else math.min(st.mm, m)
        (PhState(n, s, m, mm), Some(PhPoint(key, d.ds, r4(m), r4(m - mm),
          if (m - mm > lambda) 1 else 0)))
    }
}
