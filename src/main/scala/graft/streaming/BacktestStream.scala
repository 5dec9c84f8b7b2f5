package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import ClosedDayFold.r4

/** Per-type backtest state: how many days have been folded, and the
  * last ≤7 observed values (newest last) — the exact window q145's
  * ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING frame reads. O(1) state
  * per key (≤7 doubles + a long). */
case class BacktestState(n: Long, recent: Seq[Double])

/** One scored backtest day: the two frozen horizon models' standing
  * predictions (naive last-value p1, 7-day moving average p2), their
  * ensemble, the observation, and the error. */
case class BacktestPoint(event_type: String, ds: java.sql.Date,
    actual: Double, p1: Double, p2: Double, yhat: Double, err: Double)

/** Streaming horizon-ensemble backtest — the stream twin of q145 and
  * the monitor family's last batch-only member (round-7 verdict #7):
  * CUSUM/Page-Hinkley/rolling-z/mSPRT flag breaks, Holt/Holt-Winters
  * forecast, and this stream scores the frozen two-model ensemble as
  * each day closes, emitting the same per-day error rows q145
  * aggregates into MSE/MAE. One [[ClosedDayFold]] scores days only
  * once a FULL 7-day moving-average frame exists (the batch side's
  * rn > 7 warm-up drop), with yhat = (lag-1 + 7-day-mean) / 2
  * computed from state BEFORE folding the day in. At 100 TB the daily
  * rollup feeding this is the q02 pivot stream. BacktestStreamSpec
  * pins the emitted points row-equal to q145's batch frame, replays
  * suppressed.
  */
object BacktestStream {

  /** (event_type, ds, v) closed-day stream → scored backtest days. */
  def backtestPoints(daily: DataFrame): Dataset[BacktestPoint] =
    ClosedDayFold[DayV, BacktestState, BacktestPoint](daily,
      BacktestState(0L, Seq.empty)) { (key, st, d) =>
        // only days 8+ have the full 7-row frame the batch keeps
        val point =
          if (st.n >= 7) {
            val p1 = st.recent.last
            val p2 = st.recent.takeRight(7).sum / 7.0
            val yhat = (p1 + p2) / 2.0
            Some(BacktestPoint(key, d.ds, d.v, r4(p1), r4(p2), r4(yhat),
              r4(d.v - yhat)))
          } else None
        (BacktestState(st.n + 1, (st.recent :+ d.v).takeRight(7)), point)
    }
}
