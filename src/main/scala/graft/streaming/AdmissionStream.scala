package graft.streaming

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One incoming document's shingle row after the stream-static join:
  * `dup_of`/`n_e` are present when the shingle also occurs in the
  * existing corpus; the `sh == None` marker row keeps shingle-less
  * (< 3-token) documents alive through the join so they still get an
  * admit verdict. The shingle rides along so the verdict fold can
  * count DISTINCT shared shingles — a document replayed twice inside
  * one micro-batch doubles its candidate rows, and a bag count would
  * inflate the intersection (and the jaccard) 2×. */
case class AdmissionCand(doc_id: Long, ts: java.sql.Timestamp, n_i: Int,
                         sh: Option[String],
                         dup_of: Option[Long], n_e: Option[Int])
    extends DocumentRow

/** The admit/reject verdict, shaped exactly like q134's output row. */
case class AdmissionVerdict(doc_id: Long, status: String,
                            dup_of: Option[Long], jaccard: Option[Double])

/** Streaming curation admission — q134's incremental-admission pass
  * with the incoming side streaming (round-5 verdict item #8): each
  * arriving document is admitted or rejected against the STATIC
  * existing corpus, carrying its best near-dup match, exactly like the
  * batch query. The plan is the batch plan with streaming-legal parts
  * swapped in:
  *
  *  - incoming shingles come from a typed flatMap (the window-lead
  *    shingle plan needs an unbounded window, illegal on streams; the
  *    per-row flatMap tokenizes each document once, which is the same
  *    O(tokens) work);
  *  - the existing corpus's shingle table joins STREAM-STATIC and
  *    left-outer — stateless, so cost per micro-batch scales with the
  *    batch, never the corpus (at 100 TB the static side is the
  *    shingle index, vec_id-bucketed storage like q51);
  *  - the per-document fold is one [[OncePerDocument]], whose only
  *    state is the replay-suppression flag with an event-time expiry.
  *
  * AdmissionStreamSpec pins batch == stream against q134's own output
  * on the same corpus split, including replay suppression.
  */
object AdmissionStream {

  /** Existing corpus (doc_id, text) → the static shingle side
    * (sh, dup_of, n_e), matching Dedup.shingleRows' distinct-shingle
    * semantics. */
  def existingShingles(existing: DataFrame): DataFrame =
    graft.text.Dedup.shingleRows(existing, 3)
      .select(col("sh"), col("doc_id").as("dup_of"),
        col("n_sh").cast("int").as("n_e"))

  /** (doc_id, ts, text) stream → admit/reject verdicts against the
    * static existing corpus. */
  def admissions(incoming: DataFrame, existing: DataFrame,
                 threshold: Double = 0.4, watermark: String = "0 seconds",
                 horizon: String = "1 day"): Dataset[AdmissionVerdict] = {
    val spark = incoming.sparkSession
    import spark.implicits._
    // same tokenization as shingleRows: split(lower(trim(text)), "\s+"),
    // 3-gram windows, DISTINCT shingles; Locale.ROOT pins lower() to
    // the locale-free fold Spark's lower uses
    val inShingles = incoming
      .select(col("doc_id").cast("long"), col("ts"), col("text").cast("string"))
      .as[(Long, java.sql.Timestamp, String)]
      .flatMap { case (id, t, text) =>
        val toks = Option(text).getOrElse("")
          .trim.toLowerCase(Locale.ROOT).split("\\s+")
        val sh =
          if (toks.length < 3) Array.empty[String]
          else toks.sliding(3).map(_.mkString(" ")).distinct.toArray
        if (sh.isEmpty) Iterator.single((id, t, 0, Option.empty[String]))
        else sh.iterator.map(s => (id, t, sh.length, Some(s)))
      }
      .toDF("doc_id", "ts", "n_i", "sh_i")
      .withWatermark("ts", watermark)
    val cands = inShingles
      .join(existingShingles(existing), col("sh_i") === col("sh"), "left_outer")
      .select(col("doc_id"), col("ts"), col("n_i"), col("sh_i").as("sh"),
        col("dup_of"), col("n_e"))
      .as[AdmissionCand]
    OncePerDocument(cands, horizon) { (key, rs) =>
      val nI = rs.head.n_i
      // per existing doc: DISTINCT shared shingles (replay-proof, see
      // AdmissionCand) + that doc's shingle count
      val shared = scala.collection.mutable.HashMap
        .empty[Long, (scala.collection.mutable.HashSet[String], Int)]
      rs.foreach { r =>
        (r.dup_of, r.n_e, r.sh) match {
          case (Some(d), Some(ne), Some(s)) =>
            shared.getOrElseUpdate(d,
              (scala.collection.mutable.HashSet.empty[String], ne))._1 += s
          case _ => ()
        }
      }
      // EXACTLY Dedup.nearDupAgainst's fold: threshold on the raw
      // jaccard, round to 4dp, then best = max (rounded j, -dup_of)
      val flagged = shared.toSeq
        .map { case (d, (shs, ne)) =>
          val inter = shs.size
          (d, inter.toDouble / (nI + ne - inter)) }
        .filter(_._2 >= threshold)
        .map { case (d, j) =>
          (d, BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble) }
      Iterator.single(
        if (flagged.isEmpty) AdmissionVerdict(key, "admit", None, None)
        else {
          val (d, j) = flagged.maxBy { case (d, j) => (j, -d) }
          AdmissionVerdict(key, "reject", Some(d), Some(j))
        })
    }
  }
}
