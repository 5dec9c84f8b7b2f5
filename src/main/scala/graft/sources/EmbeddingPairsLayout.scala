package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Tables
import graft.text.Dedup

/** Write-once embedding near-dup PAIR tables — the [[PairsLayout]]
  * storage treatment applied to the vector side of the dedup stack
  * (round-5 verdict #4): q132 (exact components) and q144 (LSH
  * components) both re-derived their pair source live per run — the
  * two most expensive derivations left in the suite (~3 s each at
  * sf0.1) for byte-identical pair rows. At 100 TB the verified-pair
  * table is written once per ingest wave next to the corpus and many
  * curation analyses read it; the live derivation cost stays measured
  * by q46 (exact, the ground-truth twin of the text family's q26) and
  * by the SCALING harness on cold layouts.
  *
  * The directory embeds (threshold, LSH geometry, version) — the
  * [[BucketedTables]] fingerprint discipline. Round-trip is exact
  * (two longs + a 4dp-rounded double), so consumers are
  * value-identical to calling the [[Dedup]] derivations directly —
  * CurationSpec pins that read-back equality.
  */
object EmbeddingPairsLayout {

  import SourceLayout.thresholdKey

  /** Bump when either pair derivation changes semantically. */
  private val LayoutVersion = 1

  private def dir(sfDir: String, spec: String): String =
    s"${SourceLayout.root("graft_embpairs", sfDir)}/${spec}_v$LayoutVersion"

  /** Exact (vec_a, vec_b, cos) pairs at `threshold` for the embeddings
    * table at `sfDir` — derived and written once per
    * (sfDir, threshold), read from the layout afterwards. */
  def exactPairs(s: SparkSession, sfDir: String,
                 threshold: Double): DataFrame =
    SourceLayout.table(s, dir(sfDir, s"exact_${thresholdKey(threshold)}"))(
      Dedup.embeddingDupPairs(Tables.embeddings(s, sfDir), threshold))

  /** Sign-LSH bucketed (vec_a, vec_b, cos) candidate-verified pairs —
    * the 100 TB derivation — written once per (sfDir, threshold,
    * geometry). */
  def lshPairs(s: SparkSession, sfDir: String, threshold: Double,
               dim: Int, planes: Int = 4, tables: Int = 8): DataFrame =
    SourceLayout.table(s, dir(sfDir,
        s"lsh_${thresholdKey(threshold)}_d${dim}_p${planes}_n$tables")) {
      Dedup.embeddingDupPairsLsh(Tables.embeddings(s, sfDir), threshold,
          dim, planes, tables)
    }

  /** (node, component) over the exact pair graph — the
    * [[ComponentLayout]] treatment one level down the chain (pairs →
    * star-round fixed point), written once per (sfDir, threshold). The
    * one-time build reads [[exactPairs]]: the storage layers chain. */
  def exactComponents(s: SparkSession, sfDir: String,
                      threshold: Double): DataFrame =
    SourceLayout.table(s, dir(sfDir, s"exactcc_${thresholdKey(threshold)}"))(
      components(exactPairs(s, sfDir, threshold)))

  /** (node, component) over the LSH-bucketed pair graph — q144's
    * 100 TB form — written once per (sfDir, threshold, geometry). */
  def lshComponents(s: SparkSession, sfDir: String, threshold: Double,
                    dim: Int, planes: Int = 4, tables: Int = 8): DataFrame =
    SourceLayout.table(s, dir(sfDir,
        s"lshcc_${thresholdKey(threshold)}_d${dim}_p${planes}_n$tables"))(
      components(lshPairs(s, sfDir, threshold, dim, planes, tables)))

  private def components(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.text.Components.connectedComponents(
      pairs.select(col("vec_a").as("src"), col("vec_b").as("dst")))
  }
}
