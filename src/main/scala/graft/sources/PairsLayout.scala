package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Tables
import graft.text.Dedup

/** Write-once exact near-dup PAIR table — the layout chain's third
  * link (corpus → shingle index → pairs → components): q103's
  * recursive chain closure and q107's shared-span detection both
  * consume the SAME `jaccardPairs(documents, 0.4)` output their
  * downstream logic is actually about (chain recursion, diagonal
  * islands), yet each re-ran the shingle self-join per query — the
  * single most expensive derivation in the suite (~2.5 s each at
  * sf0.1) for byte-identical pair rows. q26 keeps running the live
  * join: it IS the measurement of pair derivation cost; the
  * downstream operators read the materialized result, exactly like a
  * dedup service that writes the verified-pair table once per ingest
  * wave and runs many analyses over it.
  *
  * The directory embeds (threshold, shingle width, version) — the
  * [[BucketedTables]] fingerprint discipline. Round-trip is exact
  * (two longs + a rounded double), so consumers are value-identical
  * to calling [[Dedup.jaccardPairs]] directly — TextSpec pins that.
  */
object PairsLayout {

  /** Bump when the pair derivation changes semantically. */
  private val LayoutVersion = 1

  /** (doc_a, doc_b, jaccard) exact pairs at `threshold` for the
    * documents table at `sfDir` — derived and written once per
    * (sfDir, threshold), read from the layout afterwards. */
  def jaccardPairs(s: SparkSession, sfDir: String,
                   threshold: Double): DataFrame = {
    val dir = s"${SourceLayout.root("graft_pairs", sfDir)}/" +
      s"${SourceLayout.thresholdKey(threshold)}_sh3_v$LayoutVersion"
    SourceLayout.table(s, dir) {
      Dedup.jaccardPairs(Tables.documents(s, sfDir), threshold,
          shingleTable = Some(ShingleLayout.shingles(s, sfDir)))
    }
  }
}
