package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Real bucketed-table storage (round-2 gap #3): `bucketBy + sortBy`
  * writes whose co-location PERSISTS across queries — unlike q42's
  * in-job `repartition(n, key)`, which re-shuffles every run. At 100 TB
  * the fact tables are written once this way and every orderkey join
  * afterwards skips both its exchanges AND both its sorts; this module
  * is the local[32] materialization of that layout.
  *
  * Bucket metadata lives in the session catalog (in-memory catalog
  * here; a metastore on a real cluster), so [[ensure]] registers the
  * external tables on first use per session and reuses the files on
  * disk across sessions.
  */
object BucketedTables {

  val nBuckets = 8

  private def root(sfDir: String): String =
    SourceLayout.root("graft_bucketed", sfDir)

  private def tableName(sfDir: String, base: String): String =
    // the source stamp rides along so the catalog entry tracks the
    // stamped location — a fixture regenerated mid-session gets a new
    // name + registration instead of the old table's pinned LOCATION
    s"graft_${base}_bucketed_${SourceLayout.slug(sfDir)}" +
      s"_${SourceLayout.sourceStamp(sfDir)}"

  /** Spec fingerprint baked into the on-disk directory name: if the
    * bucket count, bucket key, or pruned column set ever change across
    * code versions, the old directory simply isn't found and a fresh
    * write happens — stale files can't be re-registered under the new
    * DDL (where missing columns would read as all-NULL and a changed
    * bucket count would silently void the exchange-free-join claim). */
  private def specFingerprint(key: String, cols: Seq[String]): String = {
    val spec = s"b$nBuckets|$key|${cols.mkString(",")}"
    f"${scala.util.hashing.MurmurHash3.stringHash(spec) & 0xffffffffL}%08x"
  }

  /** Write `base` (pruned to `cols`) bucketed+sorted by `key` as an
    * external table. The files are written once, through
    * [[SourceLayout.publish]]; every session — the writing one and each
    * later one whose in-memory catalog lacks the table — registers the
    * external table over them with the same DDL instead of
    * re-shuffling and rewriting, the cross-session reuse the module
    * header promises. */
  private def ensureTable(s: SparkSession, sfDir: String, base: String,
                          key: String, cols: Seq[String]): String = {
    val name = tableName(sfDir, base)
    if (!s.catalog.tableExists(name)) {
      // a regenerated fixture gets a fresh stamped name; drop the same
      // slug's OLD stamped registrations first — their tmpdir LOCATIONs
      // may be gone, and leaving them accumulates dangling catalog
      // entries that shadow nothing but never die. The session catalog
      // lists them directly: `s.catalog.listTables()` is a Dataset, and
      // collecting it starts a Spark job per table
      val sessionCatalog = s.sessionState.catalog
      val prefix = s"graft_${base}_bucketed_${SourceLayout.slug(sfDir)}_"
      sessionCatalog.listTables(sessionCatalog.getCurrentDatabase, s"$prefix*")
        .map(_.table).filter(_ != name)
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      val dir = s"${root(sfDir)}/${base}_${specFingerprint(key, cols)}"
      val pruned = Tables.load(s, sfDir, base).select(cols.map(col): _*)
      SourceLayout.publish(dir) { staging =>
        // bucketBy writes only through saveAsTable: an external staging
        // table over the staging path, dropped again (its files stay;
        // Spark's "All paths were ignored" warning is its read-back of
        // the hidden staging path, not a failed write)
        val tmp = s"${name}_staging_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        // repartition on the bucket hash first so each task holds exactly
        // one bucket → ONE file per bucket; Spark only elides the join-side
        // Sort when every bucket is a single sorted file
        try pruned
          .repartition(nBuckets, col(key))
          .write
          .option("path", staging)
          .bucketBy(nBuckets, key)
          .sortBy(key)
          .saveAsTable(tmp)
        finally s.sql(s"DROP TABLE IF EXISTS $tmp")
      }
      val ddlCols = pruned.schema.fields
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      s.sql(s"""CREATE TABLE $name ($ddlCols) USING parquet
        CLUSTERED BY ($key) SORTED BY ($key) INTO $nBuckets BUCKETS
        LOCATION '$dir'""")
    }
    name
  }

  /** Register (writing on first use) the bucketed orders + lineitem
    * pair and return them as DataFrames. */
  def ensure(s: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val o = ensureTable(s, sfDir, "orders", "o_orderkey",
      Seq("o_orderkey", "o_orderpriority", "o_totalprice"))
    val l = ensureTable(s, sfDir, "lineitem", "l_orderkey",
      Seq("l_orderkey", "l_extendedprice", "l_discount"))
    (s.table(o), s.table(l))
  }

  /** orders ⋈ lineitem on the bucket key. The `merge` hint pins
    * SortMergeJoin (a broadcast would hide the point of the demo); with
    * both sides bucketed on the key, the join's plan has ZERO Exchange —
    * asserted in BucketedTablesSpec, visible in explain(). A per-bucket
    * Sort remains: since 3.0 Spark doesn't propagate bucket-file sort
    * order to the scan (the legacy `bucketedTableScan.outputOrdering`
    * conf trades planning safety for it); the shuffle — the part that
    * moves 100 TB over the network — is what bucketing eliminates.
    */
  def bucketJoin(s: SparkSession, sfDir: String): DataFrame = {
    val (o, l) = ensure(s, sfDir)
    o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
  }
}
