package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, CentralMomentAgg, Corr, Covariance, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Detector + registry for the order-dependent inexact-SUM class
  * (round-11 verdict #2).
  *
  * The class: a `SUM`/`AVG` whose input column is float/double. Spark
  * evaluates it as a partial aggregation tree whose association order
  * depends on partitioning (session width, AQE coalescing); DuckDB
  * evaluates it in scan order. Floating addition is not associative,
  * so the two engines' results can differ in trailing ulps — invisible
  * under display rounding until a value lands within dust distance of
  * a rounding boundary (the q246 catch: ten rounds green, then one
  * ulp of drift exposed by the unrounded replica). Grouped/global
  * aggregates are the width-dependent shape; WINDOW sums are flagged
  * too (running frames are sequential-in-frame-order on Spark, but
  * DuckDB may evaluate frames via segment trees, so cross-engine
  * association still differs even though Spark-side width does not
  * move them).
  *
  * Central-moment aggregates (stddev/variance/skewness/kurtosis) and
  * corr/covariance over inexact inputs are flagged too: their Welford
  * merge is order-dependent even over integer-valued inputs, because
  * the incremental means are fractional.
  *
  * Every catalog query containing such a site must be REGISTERED in
  * [[registry]] with a rationale whose prefix names its class:
  *
  *   - `exact:` — every summed double is integer- (or half-integer-)
  *     valued by construction (counts, cents, 0/1 indicators,
  *     midranks), so addition is exact below 2^53 and
  *     order-independent; an average is one correctly rounded
  *     division of exact aggregates.
  *   - `grid(2dp):` — summands are fixed-dp fixture values; the TRUE
  *     sum terminates at that dp and is emitted directly under a
  *     display round at >= that dp, so the nearest boundary is a full
  *     half round-unit away and dust (~√n·ulp(S)) sits orders below.
  *   - `residual:` — genuinely inexact or nonterminating summands, or
  *     exact sums feeding further float math before emission; covered
  *     by display rounding + the off-point sweep only. This is the
  *     class the round-11 verdict demanded inventoried.
  *   - `no-oracle:` — the query is a rows-only driver row; there is
  *     no cross-engine hash for dust to diverge.
  *
  * Sites FIXED by the structural techniques no longer flag at all:
  * exact-integer accumulation sums longs/decimals (agreement family),
  * and the deterministic fold (q246) is a higher-order `aggregate`
  * over a sorted collect_list, not a Sum aggregate. The registry is
  * therefore exactly the (c)/(d) tail of the round-11 inventory;
  * `graft.queries.QueriesSpec` keeps it EXACT both ways — an
  * unregistered new site fails, and a stale entry (query no longer
  * planning the shape) also fails.
  */
object DoubleSums {

  private def inexact(e: Expression): Boolean =
    e.dataType == DoubleType || e.dataType == FloatType

  private def sql(e: Expression): String =
    try e.sql catch { case _: Throwable => e.toString }

  /** All inexact Sum/Average sites in the query's analyzed plan,
    * rendered as `agg|window sum|avg(<input sql>)`. Analyzed (not
    * optimized) so the rendered input matches what the author wrote.
    */
  def sites(df: DataFrame): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    def scan(kind: String, exprs: Seq[Expression]): Unit =
      exprs.foreach(_.foreach {
        case ae: AggregateExpression =>
          ae.aggregateFunction match {
            case s: Sum if inexact(s.child) =>
              out += s"$kind sum(${sql(s.child).take(120)})"
            case a: Average if inexact(a.child) =>
              out += s"$kind avg(${sql(a.child).take(120)})"
            case m: CentralMomentAgg if inexact(m.child) =>
              out += s"$kind ${m.prettyName}(${sql(m.child).take(120)})"
            case c: Corr =>
              out += s"$kind corr(${sql(c.x).take(60)}, ${sql(c.y).take(60)})"
            case c: Covariance =>
              out += s"$kind cov(${c.children.map(e => sql(e).take(60)).mkString(", ")})"
            case _ => ()
          }
        case _ => ()
      })
    df.queryExecution.analyzed.foreachWithSubqueries {
      case a: Aggregate => scan("agg", a.aggregateExpressions)
      case w: Window => scan("window", w.windowExpressions)
      case _ => ()
    }
    out.toSeq
  }

  private def group(names: Seq[String], rationale: String): Map[String, String] =
    names.map(_ -> rationale).toMap

  /** All flagged sites sum INTEGER- (or half-integer-) valued doubles:
    * floating addition over values exactly representable on a fixed
    * binary grid is exact below 2^53, hence order-independent at any
    * width on both engines; averages are one correctly rounded
    * division of exact aggregates. */
  private val exactOnes = Seq(
    "q63_moving_avg", // bounded-frame window AVG of integer counts
    "q75_binned_range_join", "q76_cube_revenue", "q88_zorder_layout",
    "q109_grouping_sets", "q114_join_hint", // sum(l_quantity): integers
    "q173_vocab_oov", // avg of 0.0/1.0 indicator
    "q206_mann_whitney", // Σ ca·midrank: half-integers (exact binary)
    "q223_auc", // Σ np·(cn + nn/2): half-integers; AUC = one division
    "q234_mann_kendall", // Σ t(t−1)/2: integers (product of consecutive)
    "q251_cohens_kappa") // observed agreement = avg of 1.0/0.0 indicator

  /** Every flagged sum's TRUE value terminates at 2 dp (fixture money/
    * value columns are generated at 2 dp) and is emitted directly under
    * a ROUND at ≥ 2 dp, so the nearest rounding boundary sits a full
    * half round-unit (≥ 0.005) away from the true value — dust
    * (√n·ulp(S), ~1e-5 at sf0.1 magnitudes) is 2+ orders below it.
    * Not a proof at unbounded scale (worst-case dust grows linearly);
    * quantified in COVERAGE.md's round-12 inventory and re-measured by
    * the off-point sweep. */
  private val gridTwoDp = Seq(
    "q02_events_pivot_daily", "q03_lag_join_daily", "q04_window_lag",
    "q05_multijoin_revenue", "q09_regex_filter", "q10_date_range",
    "q11_hour_buckets", "q16_union_all", "q20_month_filter",
    "q35_rollup_revenue", "q41_salted_agg", "q48_sql_events_pivot",
    "q73_partition_pruned_join", // + avg(n) over integers: exact
    "q79_unpivot", // l_quantity integers; price/discount 2 dp
    "q85_gap_fill", "q94_upsert_apply", "q99_sampled_estimate",
    "q100_hopping_windows",
    "q104_range_window", // window: 7-day range-frame sums of 2 dp values
    "q127_filtered_agg", "q130_snapshot_diff")

  /** The residual class (round-11 verdict #2, COVERAGE.md round-12
    * inventory): genuinely inexact or nonterminating summands (ratios,
    * logs, products of fixed-dp values, interpolated quantile bounds),
    * or exact-grid sums that feed FURTHER float math before emission.
    * Association-order dust is real here; every emission passes a
    * display round (≥ 4 dp) whose boundary gap dwarfs dust except on
    * measure-zero boundary inputs, and the off-point sweep
    * (sf0.001/0.01/0.1 × session widths) is the empirical backstop —
    * the q246 lesson is that this class cannot be proven closed, only
    * inventoried and watched. */
  private val residual = Seq(
    "q01_lineitem_agg", // disc_price is 4 dp under a 2 dp round; avg_disc
    "q15_mse_join", "q19_col_stats", "q23_doc_quality",
    "q31_embedding_norms", "q39_corr_stats", "q42_copartition_join",
    "q47_sql_lineitem_agg", "q51_bucket_join", "q58_bm25",
    "q65_zscore_norm", // stddev: Welford moments are order-dependent
    "q66_salted_join", "q71_unigram_lm", "q72_token_entropy",
    "q74_bloom_join_filter", "q95_sql_correlated", "q108_try_arith",
    "q112_shipping_priority", "q113_returned_items", "q119_pagerank",
    "q121_ewma", "q124_ab_ttest", "q125_chi2_drift",
    "q135_lm_quality_filter", "q142_centroid_outliers",
    "q145_forecast_backtest", "q161_knn_recommend",
    "q162_bigram_lm_score", "q175_dsir_select", "q177_centroid_confusion",
    "q180_temperature_mix", "q184_zipf_fit", "q185_js_divergence",
    "q190_seasonal_decompose", "q193_degree_assortativity",
    "q194_interarrival", "q201_cusum", "q205_spearman",
    "q209_gini", "q211_benford",
    "q212_attribution", // UNBOUNDED per-row denominators (1/n_touch) —
    // not integerizable; the verdict's named residual example
    "q214_acf_ljung_box", "q216_linkage_eval",
    "q217_calibration", // ratio rounds use the VARCHAR→DECIMAL idiom
    // (round-12); the SUMs beneath them stay order-dependent dust
    "q219_mase", "q220_heaps_law", "q221_quantile_norm",
    "q222_hits", // L1 normalizer totals Σh/Σa over normalized doubles;
    // always this class — the round-12 l1 input-checkpoint rewrite
    // merely made the sites visible to the walker (the old OUTPUT
    // checkpoints hid the whole half-step subtree behind a LogicalRDD
    // leaf); output ranks on the 8 dp-rounded score
    "q224_psi",
    "q225_jackknife", "q227_cv_folds", "q228_learning_curve",
    "q229_holt", "q230_page_hinkley", "q231_rolling_z",
    "q235_winsorized", // quantile_cont bounds are interpolated (inexact)
    "q238_poisson_bootstrap", "q239_cuped", "q241_rake", "q242_binseg",
    "q244_ppr", "q247_confident_learning", "q248_ndcg",
    "q249_retrieval_metrics", "q250_rbo", "q254_ols", "q255_naive_bayes",
    "q257_lloyd_step", "q258_diff_in_diff",
    "q259_ipw_ate", "q260_link_prediction", "q261_holt_winters",
    "q262_textrank", "q263_power", "q265_mahalanobis", "q266_pca2",
    "q267_ucb_mixture", // 4 dp-rounded UCB/regret; cents base is exact
    "q270_loo_influence", "q271_ql_dirichlet", "q272_ridge_path",
    "q273_boost_round", "q276_cvm", "q278_gumbel", "q279_hill",
    "q281_source_ablation", "q282_irls_step", "q283_em_topics",
    "q287_log_rank")

  /** queryName -> `<class>: rationale`. Kept EXACT both ways by
    * `graft.queries.QueriesSpec` (an unregistered new site fails; a
    * stale entry whose query no longer plans the shape also fails); the full
    * classification table lives in COVERAGE.md (round-12 inventory).
    */
  val registry: Map[String, String] =
    group(exactOnes,
      "exact: integer/half-integer-valued summands — addition exact " +
        "below 2^53, order-independent at any width") ++
    group(gridTwoDp,
      "grid(2dp): true sums terminate at 2 dp and emit under a >=2 dp " +
        "round — boundary gap >= 0.005, dust 2+ orders below") ++
    group(residual,
      "residual: inexact/nonterminating summands or sums feeding " +
        "further float math — display-rounded, off-point-sweep " +
        "backstopped (COVERAGE.md round-12 inventory)") ++
    Map("q106_pq_ann" ->
      ("no-oracle: rows-only driver row (PQ distances have no SQL " +
        "twin) — no cross-engine hash to diverge; drift-pinned by " +
        "PqSpec parity bounds"))
}
