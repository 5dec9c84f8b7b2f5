package graft.streaming

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One incoming document's duplicated gram position after the
  * stream-static join: `pos` is a token index whose length-n gram also
  * exists in the static corpus gram index. */
case class SpanCand(doc_id: Long, ts: java.sql.Timestamp, pos: Int)
    extends DocumentRow

/** One maximal duplicated span — shaped exactly like q154's output
  * row. */
case class SpanRow(doc_id: Long, span_start: Long, span_len: Long)

/** Streaming ExactSubstr admission — q154's per-ingest-wave span
  * detection with the incoming side streaming (round-5 verdict #3):
  * each arriving document's spans that duplicate content already in the
  * STATIC existing corpus are emitted as they arrive, exactly like the
  * batch query. The plan is q154's plan with streaming-legal parts
  * swapped in (the [[AdmissionStream]] precedent):
  *
  *  - incoming positional grams come from a typed flatMap (the
  *    window-lead gram plan needs an unbounded window, illegal on
  *    streams; the per-row flatMap emits the same (pos, gram) rows at
  *    the same O(tokens) cost);
  *  - the corpus gram index joins STREAM-STATIC and inner — stateless,
  *    cost per micro-batch scales with the batch, never the corpus (at
  *    100 TB the static side is the write-once deduplicated gram table,
  *    the asymmetric-admission criterion of Dedup.duplicatedSpansAgainst
  *    — a gram need only EXIST in the corpus);
  *  - the per-document interval sweep — the in-processor form of
  *    Dedup.sweepSpans' cumulative-max pass: positions sorted, each
  *    widened to [pos, pos+n−1], islands split where pos jumps past the
  *    running end + 1 — is one [[OncePerDocument]], whose only state is
  *    the replay-suppression flag with event-time expiry.
  *
  * SubstrAdmissionStreamSpec pins batch == stream against q154's own
  * output on the same corpus split, including replay suppression.
  */
object SubstrAdmissionStream {

  /** Existing corpus (doc_id, text) → its deduplicated gram index —
    * Dedup.duplicatedSpansAgainst's static side. */
  def corpusGramIndex(existing: DataFrame, n: Int = 8): DataFrame =
    graft.text.Dedup.positionalShingles(existing, n)
      .select(col("sh")).distinct()

  /** (doc_id, ts, text) stream → (doc_id, span_start, span_len) rows of
    * corpus-duplicating spans, per arriving document. */
  def duplicatedSpans(incoming: DataFrame, existing: DataFrame,
                      n: Int = 8, watermark: String = "0 seconds",
                      horizon: String = "1 day"): Dataset[SpanRow] = {
    val spark = incoming.sparkSession
    import spark.implicits._
    // same tokenization as positionalShingles: split(lower(trim(text)),
    // "\s+"), full n-token windows only, positions kept (NOT distinct —
    // the sweep needs every duplicated position)
    val grams = incoming
      .select(col("doc_id").cast("long"), col("ts"), col("text").cast("string"))
      .as[(Long, java.sql.Timestamp, String)]
      .flatMap { case (id, t, text) =>
        val toks = Option(text).getOrElse("")
          .trim.toLowerCase(Locale.ROOT).split("\\s+")
        if (toks.length < n) Iterator.empty
        else toks.sliding(n).zipWithIndex
          .map { case (w, i) => (id, t, i, w.mkString(" ")) }
      }
      .toDF("doc_id", "ts", "pos", "sh")
      .withWatermark("ts", watermark)
    val cands = grams
      .join(corpusGramIndex(existing, n), Seq("sh")) // stream-static semi
      .select(col("doc_id"), col("ts"), col("pos"))
      .as[SpanCand]
    OncePerDocument(cands, horizon) { (key, rs) =>
      // distinct positions: a doc replayed twice INSIDE one micro-batch
      // doubles its candidate rows; the set collapses them
      val ps = rs.map(_.pos).distinct.sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[SpanRow]
      var start = ps.head
      var end = ps.head + n - 1
      ps.tail.foreach { p =>
        if (p > end + 1) {
          out += SpanRow(key, start.toLong, (end - start + 1).toLong)
          start = p
        }
        end = math.max(end, p + n - 1)
      }
      out += SpanRow(key, start.toLong, (end - start + 1).toLong)
      out.iterator
    }
  }
}
