package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Ingest
import graft.model.Tables

/** Date-partitioned storage layout (the sibling of [[BucketedTables]]):
  * `events` written once with `partitionBy(ds)` so every daily slice is
  * its own directory. At 100 TB this is the layout that turns a
  * date-constrained query from a full scan into a handful of directory
  * reads — statically via pushed partition filters, and at runtime via
  * dynamic partition pruning when the dates arrive from a joined dim
  * (q73 demonstrates the latter; the plan grows a
  * `dynamicpruningexpression` on the scan's PartitionFilters).
  */
object PartitionedTables {

  private def root(sfDir: String): String =
    SourceLayout.root("graft_partitioned", sfDir)

  /** Incremental backfill: rewrite ONLY the partitions present in
    * `patch` (per-write `partitionOverwriteMode=dynamic` — no session
    * mutation), leaving every other partition's files physically
    * untouched. This is the daily-pipeline repair primitive at 100 TB:
    * re-deriving one bad day costs one day's IO, not a table rewrite,
    * and readers of other days never see a change (same files, same
    * mtimes — PartitionedTablesSpec asserts exactly that). */
  def backfillPartitions(patch: DataFrame, dir: String): Unit =
    patch.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ds").parquet(dir)

  /** Write (first use per path) and read back the date-partitioned
    * events copy; `ds` comes back as a DATE partition column. */
  def events(s: SparkSession, sfDir: String): DataFrame = {
    val dir = s"${root(sfDir)}/events"
    SourceLayout.publish(dir) { d =>
      Tables.events(s, sfDir)
        .withColumn("ds", to_date(col("ts")))
        .write.partitionBy("ds").parquet(d)
    }
    Ingest.readParquet(s, dir)
  }
}
