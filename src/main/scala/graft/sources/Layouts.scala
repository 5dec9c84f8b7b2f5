package graft.sources

import org.apache.spark.sql.SparkSession

import graft.model.Tables
import graft.text.Dedup

/** One warm-up entry point over every write-once storage layout
  * (round-7 verdict #1: q51's one-time bucketed-table write landed
  * inside its timed path on a cold warehouse). A layout is fixture
  * infrastructure — written once per corpus like the driver's parquet
  * tables themselves — so Bench warms them all BEFORE the timed
  * passes: pass 1 then measures the same read-path plan as pass 2
  * instead of billing a build to whichever query reaches the layout
  * first. Every call here uses the exact arguments the catalog
  * queries use (same dirs, same markers); when the layouts are
  * already on disk this is a few marker stats and catalog lookups.
  *
  * At 100 TB this step IS the ingest pipeline's materialization
  * stage: bucketed fact tables, the shingle index, the pair/component
  * graphs, and the IVF quantizer are maintained as stored tables, and
  * queries only ever pay the read path — exactly the split modeled
  * here.
  */
object Layouts {

  /** The warm inventory, named — one entry per write-once layout
    * table family. LayoutsSpec pins this list: a NEW layout table
    * must be registered here (so its build cost lands in the bench
    * artifact's layout_warm block) before any query reads it — the
    * round-12 verdict's accounting rule, frozen as a lint. The
    * build-cost notes live in COVERAGE.md's LAYOUTS table. */
  val inventory: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "bucketed_tables" ->
      ((s, d) => BucketedTables.ensure(s, d)),
    "partitioned_events" ->
      ((s, d) => PartitionedTables.events(s, d)),
    "zorder_linear" ->
      ((s, d) => ZOrderedTables.linear(s, d)),
    "zorder_zordered" ->
      ((s, d) => ZOrderedTables.zordered(s, d)),
    "shingles" ->
      ((s, d) => ShingleLayout.shingles(s, d)),
    "duplicated_spans" ->
      ((s, d) => SpansLayout.duplicatedSpans(s, d, 8)),
    "yesterday_grams" ->
      ((s, d) => SpansLayout.yesterdayGrams(s, d, 8)),
    "jaccard_pairs" ->
      ((s, d) => PairsLayout.jaccardPairs(s, d, 0.4)),
    "dedup_components" ->
      ((s, d) => ComponentLayout.dedupComponents(s, d, 0.4)),
    "yesterday_components" ->
      ((s, d) => ComponentLayout.yesterdayComponents(s, d, 0.4)),
    "graph_edges" ->
      ((s, d) => GraphEdgesLayout.supplierPart(s, d)),
    "graph_edge_degrees" ->
      ((s, d) => GraphEdgesLayout.supplierPartDegrees(s, d)),
    "graph_nodes" ->
      ((s, d) => GraphEdgesLayout.nodes(s, d)),
    "copurchase_pairs" ->
      ((s, d) => CopurchaseLayout.pairCounts(s, d)),
    "copurchase_yesterday_pairs" ->
      ((s, d) => CopurchaseLayout.yesterdayPairCounts(s, d)),
    "copurchase_yesterday_triangles" ->
      ((s, d) => CopurchaseLayout.yesterdayTriangles(s, d)),
    "embedding_exact_pairs" ->
      ((s, d) => EmbeddingPairsLayout.exactPairs(s, d, 0.4)),
    "embedding_exact_components" ->
      ((s, d) => EmbeddingPairsLayout.exactComponents(s, d, 0.4)),
    "embedding_lsh_components" ->
      ((s, d) => EmbeddingPairsLayout.lshComponents(s, d, 0.4, dim = 64,
        planes = Dedup.lshPlanesFor(Tables.rowCount(s, d, "embeddings")))),
    "ivf_index" ->
      ((s, d) => IvfLayout.index(s, d)))

  /** Warm every layout, returning (name, seconds) per entry — Bench
    * emits these into the bench JSON line and BENCH_DETAIL so layout
    * materialization cost is VISIBLE next to the per-query times it
    * is excluded from (round-12 verdict item 2: layouts must stay
    * storage, never untimed query work hidden from the artifact).
    * On a warmed warehouse each entry is a few marker stats. */
  def warm(s: SparkSession, sfDir: String): Seq[(String, Double)] =
    inventory.map { case (name, build) =>
      val t0 = System.nanoTime()
      build(s, sfDir)
      name -> (System.nanoTime() - t0) / 1e9
    }
}
