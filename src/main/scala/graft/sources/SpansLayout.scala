package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Tables
import graft.text.Dedup

/** Write-once ExactSubstr span table — the same storage treatment as
  * [[PairsLayout]] one family over: q151 keeps running the live
  * gram-count + sweep (it IS the measurement of span derivation), and
  * the cut operator q152 — whose own mechanics are the anti-range
  * join + ordered rebuild — reads the materialized spans instead of
  * re-deriving them in the same pass. At 100 TB the duplicated-span
  * table is corpus metadata written once per ingest wave; every
  * removal or reporting pass reads it.
  *
  * Directory embeds (gram width, version) — the [[BucketedTables]]
  * fingerprint discipline. Round-trip is exact (three longs), so
  * consumers are value-identical to calling
  * [[Dedup.duplicatedSpans]] directly — TextSpec pins that.
  */
object SpansLayout {

  /** Bump when the span derivation changes semantically. */
  private val LayoutVersion = 1

  /** (doc_id, span_start, span_len) for the documents table at
    * `sfDir` — derived and written once per (sfDir, n), read from the
    * layout afterwards. */
  def duplicatedSpans(s: SparkSession, sfDir: String,
                      n: Int = 8): DataFrame = {
    val dir =
      s"${SourceLayout.root("graft_substr_spans", sfDir)}/n${n}_v$LayoutVersion"
    SourceLayout.table(s, dir)(
      Dedup.duplicatedSpans(Tables.documents(s, sfDir), n))
  }

  /** DISTINCT n-gram index of the already-ingested corpus slice
    * (doc_id % 17 ≠ 0 — the q154/q160 wave convention, the
    * [[CopurchaseLayout]] "yesterday" discipline): the write-once gram
    * table [[Dedup.duplicatedSpansAgainst]]'s scaladoc names as the
    * static side of every admission-time semi-join. Deriving it live
    * cost each admission query a tokenize + window + distinct over
    * 16/17ths of the corpus — per run, for a byte-identical table; a
    * pipeline maintains this index once per ingest wave and the
    * admission check only ever reads it. Raw token text (not hashed):
    * q154/q160's oracles replay gram equality on the text itself. */
  def yesterdayGrams(s: SparkSession, sfDir: String, n: Int = 8): DataFrame = {
    val dir =
      s"${SourceLayout.root("graft_substr_spans", sfDir)}/ygrams_n${n}_v1"
    Tables.atFullWidth(s) {
      SourceLayout.table(s, dir) {
        import org.apache.spark.sql.functions.col
        Dedup.positionalShingles(
            Tables.documents(s, sfDir).filter(col("doc_id") % 17 =!= 0), n)
          .select(col("sh")).distinct()
      }
    }
  }
}
