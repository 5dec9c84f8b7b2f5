package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import ClosedDayFold.r4

/** One CLOSED day of one event type's daily sum — the ingest unit of
  * the rolling screen and the forecasters (shared shape with [[DayZ]],
  * but the raw 2dp value: no static moments). */
case class DayV(event_type: String, ds: java.sql.Date, v: Double)
    extends ClosedDay

/** One screened day: trailing mean/sd over the ≤7 prior days, the
  * z-score when scoreable (≥3 trailing days, sd > 0), the anomaly
  * flag. Nullable z mirrors q231's NULL convention. */
case class RollPoint(event_type: String, ds: java.sql.Date, v: Double,
    n_win: Long, z: Option[Double], anomaly: Int)

/** Streaming rolling z-score — the stream twin of q231 and the third
  * member of the drift-stream family (CUSUM: fixed target; PH:
  * running mean; rolling z: trailing regime), the one whose state is
  * a bounded window — the trailing ≤7 closed daily values, oldest
  * first — instead of scalars. One [[ClosedDayFold]] scores each
  * arriving day against the window CARRIED IN STATE, then pushes it
  * in (self-exclusion is automatic — a day is scored before it enters
  * its own window, exactly q231's 7-preceding-to-1-preceding frame).
  * Mean/sd use the two-pass sample formulas Spark's window aggregates
  * produce. RollingZStreamSpec pins the emitted points row-equal to
  * q231's batch screen, replays suppressed.
  */
object RollingZStream {

  /** (event_type, ds, v) closed-day stream → screened points; the
    * defaults are q231's constants. */
  def screenPoints(daily: DataFrame, windowLen: Int = 7, minN: Int = 3,
                   fence: Double = 2.0): Dataset[RollPoint] =
    ClosedDayFold[DayV, Seq[Double], RollPoint](daily, Seq.empty) {
      (key, win, d) =>
        val n = win.length
        val z: Option[Double] =
          if (n >= minN) {
            val mean = win.sum / n
            val sd = math.sqrt(
              win.map(x => (x - mean) * (x - mean)).sum / (n - 1))
            if (sd > 0) Some(r4((d.v - mean) / sd)) else None
          } else None
        ((win :+ d.v).takeRight(windowLen),
          Some(RollPoint(key, d.ds, d.v, n.toLong, z,
            if (z.exists(x => math.abs(x) > fence)) 1 else 0)))
    }
}
