package graft.queries

import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkTestSession}
import graft.model.Tables
import graft.tools.QueryTime

/** q210 and q174 compute each shared intermediate once, inside one
  * plan: q210's contingency table is one `cube` and one scalar fold,
  * q174's BM25 list one scan and one reused exchange. Each rep is
  * counted through QueryTime's drained listener at sf0.001; the old
  * forms ran 15 (q210) and 18 (q174) jobs. The queries of
  * [[OnePassSpec.sharedInPlan]] share an intermediate the same way and
  * are held to the jobs they run. */
object OnePassSpec {
  /** Queries that read one intermediate from several subtrees of one
    * plan, with no checkpoint between, and the jobs each runs at
    * sf0.001: AQE plans the shared exchange once and reuses it. */
  val sharedInPlan: Seq[(String, Long)] = Seq(
    "q175_dsir_select" -> 7L, "q185_js_divergence" -> 6L,
    "q188_clustering_coeff" -> 9L, "q190_seasonal_decompose" -> 4L,
    "q198_bigram_pmi" -> 9L, "q201_cusum" -> 7L, "q205_spearman" -> 8L,
    "q211_benford" -> 6L, "q212_attribution" -> 8L,
    "q217_calibration" -> 5L, "q230_page_hinkley" -> 7L,
    "q235_winsorized" -> 5L, "q236_rfm" -> 7L,
    "q238_poisson_bootstrap" -> 6L, "q245_time_to_convert" -> 4L,
    "q247_confident_learning" -> 4L, "q250_rbo" -> 7L,
    "q252_fleiss_kappa" -> 10L, "q253_krippendorff" -> 15L,
    "q255_naive_bayes" -> 5L, "q265_mahalanobis" -> 4L,
    "q267_ucb_mixture" -> 13L, "q268_skew_report" -> 5L,
    "q271_ql_dirichlet" -> 8L, "q275_stickiness" -> 11L,
    "q282_irls_step" -> 9L, "q34_activity_rank" -> 6L)

  /** Queries whose global sort over a join is planned in one partition
    * ([[graft.etl.OnePartitionSort]]: a semi or anti join, or a join
    * whose other side is unique on its keys), and the jobs each runs at
    * sf0.001. Each ran 2 more with the sort's range exchange. */
  val onePartitionJoin: Seq[(String, Long)] = Seq(
    "q03_lag_join_daily" -> 6L, "q105_lateral_topk" -> 3L, "q106_pq_ann" -> 9L,
    "q132_semantic_dedup" -> 2L, "q134_incremental_admission" -> 3L,
    "q139_source_overlap" -> 18L, "q144_lsh_semantic_dedup" -> 2L,
    "q14_null_fill_join" -> 2L, "q152_exact_substr_cut" -> 4L,
    "q154_incremental_substr" -> 4L, "q160_incremental_cut" -> 7L,
    "q164_incremental_components" -> 8L, "q167_label_propagation" -> 9L,
    "q178_rouge_overlap" -> 10L, "q182_span_corruption" -> 3L,
    "q188_clustering_coeff" -> 9L, "q189_neyman_alloc" -> 9L,
    "q190_seasonal_decompose" -> 4L, "q196_markov_transitions" -> 5L,
    "q218_conformal" -> 13L, "q228_learning_curve" -> 7L, "q234_mann_kendall" -> 8L,
    "q237_dl_rescore" -> 6L, "q238_poisson_bootstrap" -> 6L, "q239_cuped" -> 7L,
    "q246_shapley_attribution" -> 12L, "q248_ndcg" -> 6L, "q250_rbo" -> 7L,
    "q251_cohens_kappa" -> 10L, "q252_fleiss_kappa" -> 10L, "q257_lloyd_step" -> 10L,
    "q259_ipw_ate" -> 5L, "q268_skew_report" -> 5L, "q270_loo_influence" -> 8L,
    "q274_stylometry" -> 7L, "q275_stickiness" -> 11L, "q281_source_ablation" -> 13L,
    "q285_isotonic" -> 7L, "q34_activity_rank" -> 6L, "q57_tfidf" -> 7L,
    "q65_zscore_norm" -> 3L, "q80_repetition_filter" -> 6L)

  /** Of [[onePartitionJoin]], the queries whose job count varies by one
    * from one run to the next, for a reason not yet explained (q178
    * 10 or 11 jobs at sf0.01 before the sort moved; q167 8 or 9 at
    * sf0.001 after). Their entry is an upper bound, the count they run
    * with the range exchange minus one, not a pin. */
  val jobsVary: Set[String] = Set("q167_label_propagation", "q178_rouge_overlap")
}

class OnePassSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf0001

  private def jobs(name: String): Long = {
    val Seq((_, fn)) = Bench.select(Set(name))
    val counter = new QueryTime.Counter(spark.sparkContext)
    try QueryTime.rep(spark, counter, sf, fn).jobs
    finally counter.close()
  }

  /** Every node of an executed plan, through AQE's wrappers and stages
    * (a reused exchange is a leaf: its source is counted once). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case qs: QueryStageExec => nodes(qs.plan)
    case _ => p.children.flatMap(nodes)
  })

  test("q210 runs in at most 3 jobs and broadcasts nothing") {
    val n = jobs("q210_mutual_info")
    assert(n <= 3L, s"q210 ran $n jobs")
    val df = AnalyticsQueries.q210MutualInfo.run(spark, sf)
    df.collect()
    val broadcasts = nodes(df.queryExecution.executedPlan)
      .collect { case b: BroadcastExchangeLike => b }
    assert(broadcasts.isEmpty, s"q210 broadcasts: $broadcasts")
  }

  test("q174 runs in at most 11 jobs") {
    val n = jobs("q174_rrf_fusion")
    assert(n <= 11L, s"q174 ran $n jobs")
  }

  test("q174's BM25 list scans documents once and explodes nothing") {
    // GlobalRank hides the ranked list's plan from q174's own plan, so
    // the list is checked as the frame q174 ranks
    val df = SelectionQueries.bm25(Tables.documents(spark, sf))
    df.collect()
    val plan = nodes(df.queryExecution.executedPlan)
    val scans = plan.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName.startsWith("documents")) => s
    }
    assert(scans.length === 1, s"documents scans: $scans")
    assert(!plan.exists(_.isInstanceOf[GenerateExec]), "a Generate in the BM25 plan")
  }

  test("queries that share an intermediate through the plan stay within their job ceilings") {
    // column pruning or a filter pushed below the shared aggregate gives
    // the readers different exchanges, and the extra one is an extra job
    val over = OnePassSpec.sharedInPlan.flatMap { case (name, ceiling) =>
      val n = jobs(name)
      if (n > ceiling) Some(s"$name ran $n jobs (ceiling $ceiling)") else None
    }
    assert(over.isEmpty, over.mkString("\n"))
  }

  test("queries whose sort over a join plans in one partition run their pinned jobs") {
    val off = OnePassSpec.onePartitionJoin.flatMap { case (name, pinned) =>
      val n = jobs(name)
      val vary = OnePassSpec.jobsVary(name)
      if (if (vary) n <= pinned else n == pinned) None
      else Some(s"$name ran $n jobs (${if (vary) "ceiling" else "pinned"} $pinned)")
    }
    assert(off.isEmpty, off.mkString("\n"))
  }
}
