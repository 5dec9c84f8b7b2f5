package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl.Ingest
import graft.model.Tables
import graft.text.Ivf

/** Write-once IVF index layout — [[Ivf]]'s own doc says "the index is
  * just a cell_id column, so it lives in the table layout"; this
  * module EXECUTES that claim (the [[ComponentLayout]] treatment for
  * the ANN family). q83's self-join and q143's label agreement share
  * one quantizer over the same corpus, and each used to re-fit KMeans
  * per query (~1.5 s of every bench pass each at sf0.1) for the same
  * assignment.
  *
  * Two parquets per (sfDir, spec), published as one directory: the
  * cell-indexed corpus (vec_id, v, cell) — at 100 TB this is the
  * corpus table itself, partitioned/bucketed by cell — and the
  * nCells-row centroid table.
  * The directory embeds (nCells, seed, maxIter, version), the
  * [[BucketedTables]] fingerprint discipline.
  */
object IvfLayout {

  /** Bump when the quantizer build changes semantically.
    * v2: same cell assignments as v1 (identical KMeans fit), the
    * corpus rows additionally carry the base table's `label` column —
    * at 100 TB the cell-indexed corpus IS the corpus table itself
    * (cell is just a column on it), so every physical column rides
    * along for free; v1 forced q143/q202 to re-scan embeddings and
    * join the label back per query (one scan + one broadcast join +
    * one localCheckpoint each, every run). Since the build carries
    * `label` through the KMeans transform instead of joining it back
    * on vec_id, a v2 build scans embeddings once; the rows are the
    * same whenever vec_id is unique (the inner join duplicated rows on
    * a repeated id), so the directory name is unchanged. */
  private val LayoutVersion = 2

  private def root(sfDir: String, nCells: Int, seed: Long, maxIter: Int): String =
    s"${SourceLayout.root("graft_ivf", sfDir)}/c${nCells}_s${seed}_i${maxIter}_v$LayoutVersion"

  /** (indexed corpus, centroids) for the embeddings table at `sfDir` —
    * fit + written once per spec, read from the layout afterwards.
    * `nCells = 0` (the default) dispatches the geometry on the corpus
    * count via [[Ivf.cellsFor]] — the measured-crossover rule; the
    * resolved count is part of the layout directory, so a corpus grown
    * past a geometry breakpoint re-fits rather than silently reusing
    * stale cells. The count itself is parquet-footer metadata, not a
    * scan ([[Tables.rowCount]]), and both parquets read back through
    * [[Ingest.readParquet]], so on a built layout this starts no Spark
    * job. */
  def index(s: SparkSession, sfDir: String, nCells: Int = 0,
            seed: Long = 42L, maxIter: Int = 8): (DataFrame, DataFrame) = {
    val cells =
      if (nCells > 0) nCells
      else Ivf.cellsFor(Tables.rowCount(s, sfDir, "embeddings"))
    val base = root(sfDir, cells, seed, maxIter)
    // one publish of the base directory: the pair becomes visible
    // together, so a half-written pair is never read
    SourceLayout.publish(base) { d =>
      // the transform carries `label` through: one embeddings scan
      val (indexed, centroids) =
        Ivf.buildIndex(Tables.embeddings(s, sfDir), cells, seed, maxIter)
      indexed.select(col("vec_id"), col("v"), col("cell"), col("label"))
        .write.parquet(s"$d/corpus")
      // one file: the centroid table is nCells rows; a file per row
      // just multiplies listing/footer overhead on every read
      centroids.coalesce(1).write.parquet(s"$d/centroids")
    }
    (Ingest.readParquet(s, s"$base/corpus")
        .select(col("vec_id"), col("v"), col("cell"), col("label")),
      Ingest.readParquet(s, s"$base/centroids"))
  }
}
