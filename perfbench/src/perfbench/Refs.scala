package perfbench

import java.io.File

import scala.io.Source

import org.apache.spark.sql.Row

/** The fixed op lists of the query workloads. Every untraced run must
  * fit the benchmark's time budget (48 runs of both workloads within an
  * hour, each run a fresh JVM), so a pass holds the ops an optimisation
  * is most likely to move, and a traced run adds, after its pass, the ops
  * that only feed per-layer metrics. */
object CatalogSet {
  /** The `catalog` pass: the named q199, q210 and q174, and the
    * cheapest query of nine more modules, whose cost is mostly per-job
    * overhead. */
  val ops: Seq[String] = Seq(
    "q199_association_rules", "q210_mutual_info", "q174_rrf_fusion", "q19_col_stats",
    "q40_string_surgery", "q67_int8_quantize", "q101_mixture_sample", "q78_ordered_list_agg",
    "q153_audio_spectral", "q266_pca2", "q187_pareto_front", "q132_semantic_dedup")

  /** Run after a traced `catalog` pass: the named q284 (the corpus
    * funnel in its exact regime, over the layouts) and the cheapest query
    * of each of the 13 other modules, so every catalog module has a
    * per-layer time. */
  val tracedOps: Seq[String] = Seq(
    "q284_corpus_funnel", "q258_diff_in_diff", "q99_sampled_estimate", "q223_auc",
    "q263_power", "q264_k_anonymity", "q247_confident_learning", "q278_gumbel",
    "q251_cohens_kappa", "q249_retrieval_metrics", "q260_link_prediction", "q50_sql_topk",
    "q237_dl_rescore", "q268_skew_report")

  /** Run after a traced `cold-layouts` pass, over the root it built: the
    * named consumers of the pairs (q103), graph-edge (q222, q232),
    * co-purchase (q191) and IVF (q83) layouts, and the cheapest consumer
    * of the component, embedding, shingle, z-order and bucketed ones. */
  val layoutConsumers: Seq[String] = Seq(
    "q103_recursive_chain", "q222_hits", "q232_bfs_hops", "q191_incremental_triangles",
    "q83_ann_join", "q56_dedup_components", "q132_semantic_dedup", "q26_ngram_jaccard",
    "q88_zorder_layout", "q51_bucket_join")
}

/** Recorded reference outputs (the `refs` directory). Catalog entries:
  * name, hash, rows, oracled (1 when the query has a DuckDB oracle that
  * matched at record time). Layout entries: name, hash, rows. Pipeline
  * entries: input (`base` for the fixture, `x10-s<seed>` for its seeded
  * 10x amplification), trainMse, forecast hash and rows, funnel hash. */
final class Refs(dir: Option[String]) {
  private def tsv(name: String): Seq[Array[String]] = dir.map(d => new File(d, name))
    .filter(_.exists()).map { f =>
      val src = Source.fromFile(f)
      try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t")).toList
      finally src.close()
    }.getOrElse(Nil)

  private lazy val catalog: Map[String, (String, Long, Boolean)] =
    tsv("catalog.tsv").map(r => r(0) -> ((r(1), r(2).toLong, r(3) == "1"))).toMap
  private lazy val layouts: Map[String, (String, Long)] =
    tsv("layouts.tsv").map(r => r(0) -> ((r(1), r(2).toLong))).toMap
  private lazy val pipelines: Map[String, Array[String]] =
    tsv("pipelines.tsv").map(r => r(0) -> r).toMap

  def catalogCheck(name: String, got: (String, Long)): (String, String) =
    catalog.get(name) match {
      case None => ("wrong", "no reference hash recorded")
      case Some((h, n, _)) if h != got._1 || n != got._2 =>
        ("wrong", s"hash ${got._1} rows ${got._2}, expected $h rows $n")
      case Some((_, _, true)) => ("ok", "")
      case Some((_, _, false)) => ("unoracled", "matches the recorded hash; no DuckDB oracle")
    }

  def layoutCheck(name: String, got: (String, Long)): (String, String) =
    layouts.get(name) match {
      case None => ("wrong", "no reference hash recorded")
      case Some(want) if want != got =>
        ("wrong", s"hash ${got._1} rows ${got._2}, expected ${want._1} rows ${want._2}")
      case _ => ("ok", "")
    }

  /** Invariants for any input; exact values where the input was recorded. */
  def flagshipCheck(key: String, mse: Double, forecast: (String, Long)): (String, String) =
    if (mse.isNaN || mse < 0) ("wrong", s"trainMse $mse")
    else if (forecast._2 == 0) ("wrong", "no forecast rows")
    else pipelines.get(key) match {
      case Some(r) if math.abs(r(1).toDouble - mse) > 1e-6 * math.max(1.0, math.abs(mse)) ||
          r(2) != forecast._1 =>
        ("wrong", s"trainMse $mse forecast ${forecast._1}, expected ${r(1)} ${r(2)}")
      case Some(_) => ("ok", "")
      case None => ("unoracled", s"$key not recorded; trainMse $mse forecast ${forecast._1}")
    }

  def funnelCheck(key: String, rows: Seq[Row], hash: (String, Long)): (String, String) = {
    val docs = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val byStage = rows.sortBy(_.getString(0)).map(_.getLong(1))
    if (rows.size != 7) ("wrong", s"${rows.size} funnel rows")
    else if (byStage.init.zip(byStage.init.tail).exists { case (x, y) => y > x })
      ("wrong", s"funnel grows: $docs")
    else pipelines.get(key) match {
      case Some(r) if r(4) != hash._1 => ("wrong", s"funnel ${hash._1}, expected ${r(4)}")
      case Some(_) => ("ok", "")
      case None => ("unoracled", s"$key not recorded; funnel ${hash._1}")
    }
  }
}
