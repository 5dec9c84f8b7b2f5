package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** One candidate row of an arriving document, keyed by its id. */
trait DocumentRow {
  def doc_id: Long
  def ts: java.sql.Timestamp
}

/** Per-document verdict fold: all of a document's candidate rows arrive
  * in the micro-batch that carried the document (stateless ops never
  * split one input row's derived rows across batches), so `verdict`
  * runs on them and emits immediately. The only STATE is a per-doc
  * "seen" flag that suppresses replayed documents until the event-time
  * timer at max ts + horizon clears it — state is O(docs in the
  * horizon), not O(stream length).
  */
class OncePerDocument[I <: DocumentRow, O](horizonMs: Long,
    verdict: (Long, Seq[I]) => Iterator[O])
    extends StatefulProcessor[Long, I, O] {

  @transient private var seen: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Boolean](
      "seen", Encoders.scalaBoolean, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[I],
      timerValues: TimerValues): Iterator[O] = {
    val rs = rows.toSeq
    if (Option(seen.get()).exists(identity) || rs.isEmpty) Iterator.empty
    else {
      seen.update(true)
      getHandle.registerTimer(rs.map(_.ts.getTime).max + horizonMs)
      verdict(key, rs)
    }
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[O] = {
    seen.clear()
    Iterator.empty
  }
}

object OncePerDocument {

  /** Candidate rows → each document's `verdict`, once per document
    * within `horizon` (day-or-smaller denominated) of its last row. */
  def apply[I <: DocumentRow, O: Encoder](cands: Dataset[I], horizon: String)(
      verdict: (Long, Seq[I]) => Iterator[O]): Dataset[O] = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(horizon))
    require(iv.months == 0,
      s"admission horizon must be day-or-smaller denominated, got '$horizon'")
    cands.groupByKey(_.doc_id)(Encoders.scalaLong)
      .transformWithState(new OncePerDocument(
        iv.days * 86400000L + iv.microseconds / 1000L, verdict),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
