package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** One CLOSED day of one event type's series — the output row of an
  * upstream watermark-closed daily window, the ingest unit of every
  * closed-day fold. */
trait ClosedDay {
  def event_type: String
  def ds: java.sql.Date
}

/** Keyed by event type: fold each arriving closed day through `step`
  * (key, state before the day, the day) → (state after, the day's
  * point, if any). This processor owns the day-ordering replay
  * contract of the monitor streams, so the detectors are only their
  * recurrences. A day ≤ the last folded day is a re-delivery of an
  * already-folded window (the recurrences are order-determined, so
  * upstream must close days in order per type — the watermark
  * contract) and is dropped; within a batch, days fold in ds order and
  * same-day repeats collapse to the first (re-deliveries carry
  * identical values). The one state value is (last folded epoch day,
  * the detector's state).
  */
class ClosedDayFold[I <: ClosedDay, S, O](zero: S,
    step: (String, S, I) => (S, Option[O]), stateEnc: Encoder[(Long, S)])
    extends StatefulProcessor[String, I, O] {

  @transient private var st: ValueState[(Long, S)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[(Long, S)]("fold", stateEnc, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[I],
      timerValues: TimerValues): Iterator[O] = {
    val (last, before) = Option(st.get()).getOrElse((Long.MinValue, zero))
    val fresh = rows.toSeq
      .map(r => r.ds.toLocalDate.toEpochDay -> r)
      .filter(_._1 > last)
      .groupBy(_._1).map(_._2.head).toSeq
      .sortBy(_._1)
    if (fresh.isEmpty) Iterator.empty
    else {
      var s = before
      val out = fresh.flatMap { case (_, r) =>
        val (after, point) = step(key, s, r)
        s = after
        point
      }
      st.update((fresh.last._1, s))
      out.iterator
    }
  }
}

object ClosedDayFold {

  /** The closed-day stream `days` (rows of I) → the points `step`
    * emits, one transformWithState keyed by event type. */
  def apply[I <: ClosedDay with Product: TypeTag, S: TypeTag,
      O <: Product: TypeTag](days: DataFrame, zero: S)(
      step: (String, S, I) => (S, Option[O])): Dataset[O] =
    days.as(Encoders.product[I]).groupByKey(_.event_type)(Encoders.STRING)
      .transformWithState(
        new ClosedDayFold(zero, step, Encoders.product[(Long, S)]),
        TimeMode.None(), OutputMode.Append())(Encoders.product[O])

  /** The 4dp display round of the monitor family (the q201 convention):
    * points carry it, state keeps full precision. */
  def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
}
