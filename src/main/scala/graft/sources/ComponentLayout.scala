package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.text.Components

/** Write-once dedup-component layout — the [[BucketedTables]] (q51)
  * storage treatment applied to the star-round fixed point (round-5
  * verdict item #4): q56/q129/q68/q140 all consume the SAME
  * `dedupComponents(documents, 0.4)` assignment, and each used to
  * re-run the pair join + O(log n) component rounds from scratch —
  * ~2.5 s × 4 of every bench pass at sf0.1 for byte-identical results.
  *
  * At 100 TB this is exactly how the pipeline runs anyway: component
  * ids are corpus METADATA written once per ingest wave (like the
  * bucketed/Z-ordered fact tables) and every downstream pass — keeper
  * selection, leakage-safe splitting, yield accounting — reads the
  * assignment instead of re-deriving the graph. The parquet round-trip
  * is exact (two long columns), so consumers are value-identical to
  * calling [[Components.dedupComponents]] directly — PipelineQueriesSpec
  * pins that equality.
  *
  * Both builds read their pairs from [[PairsLayout]] (the chain is
  * corpus → shingle index → pairs → components): the pair table holds
  * exactly the rows [[Components.dedupComponents]] derives live (same
  * function, threshold and shingle table), so the component build
  * costs only the component rounds and the corpus join-back.
  *
  * The directory name embeds the spec (threshold, shingle width,
  * algorithm version) — the [[BucketedTables]] fingerprint discipline:
  * changing any of them orphans the old directory rather than silently
  * re-reading stale assignments.
  */
object ComponentLayout {

  import SourceLayout.thresholdKey

  /** Bump when the component/pair derivation changes semantically. */
  private val LayoutVersion = 1

  /** (doc_id, component) for every document at `sfDir` — computed and
    * written once per (sfDir, threshold), read from the layout
    * afterwards (any session). */
  def dedupComponents(s: SparkSession, sfDir: String,
                      threshold: Double): DataFrame = {
    val dir = s"${SourceLayout.root("graft_components", sfDir)}/" +
      s"${thresholdKey(threshold)}_sh3_v$LayoutVersion"
    SourceLayout.table(s, dir) {
      // the one-time build reads the pair layout, so the storage layers
      // chain (corpus → shingle index → pairs → components) and the
      // pair self-join runs once per corpus, in the pair layout's build
      Components.componentsOver(Tables.documents(s, sfDir),
        PairsLayout.jaccardPairs(s, sfDir, threshold)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    }
  }

  /** "Yesterday's" assignment for the incremental-maintenance path
    * (q164): the corpus minus the doc_id%10 ∈ {8,9} admission wave,
    * components over its OWN pairs only. Persisted write-once because
    * that is the operational semantics being modeled — yesterday's
    * assignment IS a stored table (this very layout after yesterday's
    * ingest); only the wave merge runs at admission time.
    */
  def yesterdayComponents(s: SparkSession, sfDir: String,
                          threshold: Double): DataFrame = {
    val dir = s"${SourceLayout.root("graft_components", sfDir)}/" +
      s"${thresholdKey(threshold)}_sh3_v${LayoutVersion}_wave8"
    SourceLayout.table(s, dir) {
      val docs = Tables.documents(s, sfDir)
        .filter(pmod(col("doc_id"), lit(10)) < 8)
      val pairs = PairsLayout.jaccardPairs(s, sfDir, threshold)
        .filter(pmod(col("doc_a"), lit(10)) < 8 &&
          pmod(col("doc_b"), lit(10)) < 8)
      Components.componentsOver(docs,
          pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("doc_id").as("node"), col("component"))
    }
  }
}
