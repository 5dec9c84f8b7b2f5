package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

import ClosedDayFold.r4

/** One CLOSED day of one experiment's paired arm traffic — the ingest
  * unit of the sequential test (the output row of an upstream
  * watermark-closed daily window joined across arms; a day enters the
  * cumulative state exactly once). */
case class DayArms(event_type: String, ds: java.sql.Date,
    na: Long, sa1: Double, sa2: Double,
    nb: Long, sb1: Double, sb2: Double) extends ClosedDay

/** Per-experiment monitor state: both arms' cumulative (n, Σv, Σv²)
  * and the running always-valid p — seven scalars per event type. */
case class MsprtState(cna: Long, csa1: Double, csa2: Double,
    cnb: Long, csb1: Double, csb2: Double, p: Double)

/** One monitor point: cumulative Δ, log mixture-LR, always-valid p,
  * rejection at α. */
case class MsprtPoint(event_type: String, ds: java.sql.Date,
    n_a: Long, n_b: Long, delta: Double, log_lambda: Double,
    p: Double, reject: Int)

/** Streaming mSPRT — the stream twin of q240
  * ([[graft.queries.ExperimentQueries.msprt]]) and the operator whose
  * POINT is streaming: always-valid inference exists so the monitor
  * can peek continuously without alpha-spending; a batch mSPRT is a
  * replay of what this emits live. Input is the closed paired-arm
  * daily row (the upstream watermark-closed window joined across
  * arms); one [[ClosedDayFold]] adds each day's paired arm sums into
  * the cumulative moments and re-evaluates q240's log mixture-LR, the
  * always-valid p being the running min carried in state. Days where
  * either arm's cumulative n < 2 update state but emit nothing (q240's
  * WHERE guard). MsprtStreamSpec pins the emitted points row-equal to
  * the q240 batch, replays suppressed.
  */
object MsprtStream {

  /** (event_type, ds, na, sa1, sa2, nb, sb1, sb2) closed-day stream →
    * monitor points. τ²/α default to q240's constants. */
  def monitorPoints(daily: DataFrame, tau2: Double = 1.0,
                    alpha: Double = 0.05): Dataset[MsprtPoint] =
    ClosedDayFold[DayArms, MsprtState, MsprtPoint](daily,
      MsprtState(0L, 0, 0, 0L, 0, 0, 1.0)) { (key, before, r) =>
        val s = MsprtState(
          before.cna + r.na, before.csa1 + r.sa1, before.csa2 + r.sa2,
          before.cnb + r.nb, before.csb1 + r.sb1, before.csb2 + r.sb2,
          before.p)
        if (s.cna < 2 || s.cnb < 2) (s, None)
        else {
          val delta = s.csa1 / s.cna - s.csb1 / s.cnb
          val v = ((s.csa2 - s.csa1 * s.csa1 / s.cna) / (s.cna - 1)) / s.cna +
            ((s.csb2 - s.csb1 * s.csb1 / s.cnb) / (s.cnb - 1)) / s.cnb
          val ll = 0.5 * math.log(v / (v + tau2)) +
            delta * delta * tau2 / (2 * v * (v + tau2))
          val pt = if (ll > 700) 0.0 else math.min(1.0, math.exp(-ll))
          val p = math.min(s.p, pt)
          (s.copy(p = p), Some(MsprtPoint(key, r.ds, s.cna, s.cnb, r4(delta),
            r4(ll), BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP)
              .toDouble, if (p < alpha) 1 else 0)))
        }
    }
}
