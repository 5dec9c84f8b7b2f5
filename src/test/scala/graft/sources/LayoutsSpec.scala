package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Freezes the write-once layout inventory (round-12 verdict item 2:
  * "no further derived-aggregate layouts without accounting"). Two
  * pins:
  *
  *  1. The registered inventory is EXACTLY the frozen name list —
  *     adding a layout table without registering it here (and noting
  *     its build cost in COVERAGE.md's LAYOUTS table) fails the build.
  *  2. Every `SourceLayout.root("…")` layout family in src/main is
  *     warmed by the inventory — a layout whose build cost never
  *     reaches the bench artifact's layout_warm block cannot exist.
  */
class LayoutsSpec extends AnyFunSuite {

  private val frozen = Seq(
    "bucketed_tables", "partitioned_events", "zorder_linear",
    "zorder_zordered", "shingles", "duplicated_spans", "yesterday_grams",
    "jaccard_pairs", "dedup_components", "yesterday_components",
    "graph_edges", "graph_edge_degrees", "graph_nodes",
    "copurchase_pairs", "copurchase_yesterday_pairs",
    "copurchase_yesterday_triangles", "embedding_exact_pairs",
    "embedding_exact_components", "embedding_lsh_components", "ivf_index")

  test("the warm inventory is exactly the frozen list, in order") {
    assert(Layouts.inventory.map(_._1) === frozen,
      "layout inventory changed: register the new table with a " +
        "build-cost note in COVERAGE.md's LAYOUTS table and update " +
        "the frozen list here")
  }

  test("every SourceLayout.root family in src/main is in the inventory") {
    import scala.jdk.CollectionConverters._
    val srcDir = Paths.get("src/main/scala/graft")
    val rootRx = """SourceLayout\.root\("([a-z_]+)"""".r
    val families = Files.walk(srcDir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => rootRx.findAllMatchIn(
        new String(Files.readAllBytes(p), "UTF-8")).map(_.group(1)))
      .toSet
    // family -> the inventory entries that warm it (names chosen to
    // make the mapping readable; pinned here so a new family must be
    // wired through Layouts.warm)
    val warmed = Map(
      "graft_bucketed" -> "bucketed_tables",
      "graft_partitioned" -> "partitioned_events",
      "graft_zorder" -> "zorder_linear/zorder_zordered",
      "graft_shingles" -> "shingles",
      "graft_substr_spans" -> "duplicated_spans/yesterday_grams",
      "graft_pairs" -> "jaccard_pairs",
      "graft_components" -> "dedup_components/yesterday_components",
      "graft_graph_edges" -> "graph_edges/graph_edge_degrees/graph_nodes",
      "graft_copurchase" -> "copurchase_*",
      "graft_embpairs" -> "embedding_*",
      "graft_ivf" -> "ivf_index")
    // equality, not inclusion: a rename that stops the regex matching
    // `SourceLayout.root("…")` would otherwise pass with zero families
    assert(families === warmed.keySet,
      s"layout families ${families.diff(warmed.keySet)} are not warmed by " +
        "Layouts.inventory — register them (and their build cost) before " +
        s"any query reads them; families ${warmed.keySet.diff(families)} " +
        "are no longer found in src/main")
  }
}
