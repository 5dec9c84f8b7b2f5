package graft.queries

import scala.util.{Failure, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SourceLint, SparkEntry, SparkTestSession}

object QueriesSpec {
  /** The POSITIVE emission-type allowlist (round-11 verdict #1): the
    * q286 lesson generalized. The driver's hash internals are
    * unobservable, so the hash-safe type surface must be CLOSED, not
    * inferred per-incident: these six are exactly the types every one
    * of the 285 r11 result schemas emitted, all driver-hash-proven
    * green. Anything else — float32 (parquet type skew vs DuckDB
    * REAL), decimal128 (the proven-unhashable q286 class), binary,
    * array/map/struct (engine-specific canonicalization), interval,
    * boolean (never emitted, hence never proven) — fails at
    * construction time; widen this set only with a green driver round
    * proving the new type, never by assumption. */
  val hashSafeTypes: Set[DataType] = Set(
    IntegerType, LongType, DoubleType, StringType, DateType, TimestampType)

  /** The `localCheckpoint` calls the query modules may hold. Each one
    * costs an eager job and hides its subtree from the planner; the
    * ones left cut a loop's lineage or were measured or found worse
    * without them, each with its reason in
    * `plans/shared-in-plan/SUMMARY.md`. */
  val checkpointCeiling = 81
}

/** What the catalog-wide checks need from one query. */
private final case class Swept(
    offList: Seq[StructField], sumSites: Seq[String],
    lint: Seq[String], quadratic: Boolean, rows: Int)

/** One sweep of the catalog at sf0.001 (the t1 smoke analogue;
  * oracle value checks run in tools/check_oracle.py). Each query is
  * built and executed once into a [[record]] that its own test and the
  * register tests share; any test takes the records it lacks. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // may legitimately return zero rows on the tiny fixture
  private val mayBeEmpty = Set("q18_except_anti", "q26_ngram_jaccard",
    "q27_minhash_lsh_pairs", "q28_simhash_pairs", "q54_jaccard_prefix")

  /** (node, parent) pairs across the whole executed tree, descending
    * into AQE stages, reused exchanges, codegen spans and subqueries —
    * the wrappers `SparkPlan.children` alone does not cross. */
  private def nodes(p: SparkPlan, parent: Option[SparkPlan] = None)
      : Seq[(SparkPlan, Option[SparkPlan])] = {
    val kids: Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }) ++ p.subqueries
    (p, parent) +: kids.flatMap(nodes(_, Some(p)))
  }

  /** Strip the wrappers that sit between an exchange and its logical
    * neighbour (codegen spans, input adapters, AQE stages). */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => unwrap(w.child)
    case i: InputAdapter => unwrap(i.child)
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case qs: QueryStageExec => unwrap(qs.plan)
    case r: ReusedExchangeExec => unwrap(r.child)
    case other => other
  }

  private def isScalarAgg(p: SparkPlan): Boolean = unwrap(p) match {
    case a: aggregate.BaseAggregateExec => a.groupingExpressions.isEmpty
    case _ => false
  }

  /** Is `p` inside the scan stage — i.e. does its narrow unary chain
    * reach a file scan without crossing an exchange/agg/join/sort? */
  private def inScanStage(p: SparkPlan): Boolean = unwrap(p) match {
    case _: FileSourceScanExec => true
    case _: Exchange | _: aggregate.BaseAggregateExec | _: SortExec => false
    case u if u.children.size == 1 => inScanStage(u.children.head)
    case _ => false
  }

  /** Named exceptions, each with its boundedness argument — the lint's
    * point is that every global funnel is either provably bounded or a
    * bug, so additions here need a rows-bound rationale, not a shrug.
    */
  private val boundedGlobalWindow: Map[String, String] = Map(
    "q122_cumulative_distinct" ->
      ("running sum over the PER-DAY aggregate: rows = #calendar days " +
        "(~30 at fixture, 365/year at any corpus size) — input is " +
        "calendar-bounded, not data-bounded"),
    "q267_ucb_mixture" ->
      ("UCB exposure totals and the regret cumsum run over PER-DAY " +
        "aggregates: rows = #calendar days (q122 argument) — " +
        "calendar-bounded, not data-bounded"),
    "q280_bh_fdr" ->
      ("BH rank/threshold windows run over the HYPOTHESIS table: " +
        "rows = |types|×|days| (calendar-bounded, q122 argument)"),
    "q206_mann_whitney" ->
      ("midrank sweep over the pooled VALUE DISTRIBUTION: rows = " +
        "|distinct l_quantity| (= 50 at any corpus size — a domain " +
        "constant, not a corpus statistic)"),
    "q223_auc" ->
      ("cumulative-negatives sweep over the SCORE DISTRIBUTION: rows " +
        "= |distinct scores| ≤ |discounts|×|quantities| = 550 (180 " +
        "observed) — a domain constant, not a corpus statistic"))

  /** The labelled-quadratic register (round-6 verdict #3): the "every
    * deliberate all-pairs form is paired with a flatter twin" invariant,
    * previously prose discipline, machine-checked. Every catalog query
    * whose executed plan contains a BroadcastNestedLoopJoin that the
    * lint cannot prove bounded (build side fed by a scalar aggregate or
    * a limit) must appear here, either as
    *   `twin=<catalog query name>: <why this quadratic is the ground
    *    truth and who its scale form is>`  — a deliberate all-pairs
    *    ground truth, REQUIRED to name its executed flatter twin (the
    *    twin name is validated against the catalog), or
    *   `bounded: <why the build side is O(1)-ish by construction>` —
    *    a broadcast attach whose row count is a model constant
    *    (labels, centroids, quantiles…), not a corpus statistic.
    * A new unpaired quadratic therefore fails CI by construction.
    */
  private val labelledQuadratics: Map[String, String] = Map(
    // ---- deliberate all-pairs ground truths, each naming its executed
    // flatter twin (the SCALING.md crossover families) ----
    "q30_cosine_topk" ->
      ("twin=q83_ann_join: brute-force cosine top-k is the exact " +
        "baseline; the IVF cell join is the measured 100 TB form"),
    "q46_embedding_dups" ->
      ("twin=q144_lsh_semantic_dedup: the family's one LIVE exact pair " +
        "derivation, kept as the measured crossover baseline; sign-LSH " +
        "buckets are the scale form"),
    "q141_knn_label_agreement" ->
      ("twin=q143_ann_label_agreement: exact kNN agreement is the " +
        "oracle-checkable ground truth; IVF-probed candidates are the " +
        "parity-pinned scale form"),
    "q166_hard_negatives" ->
      ("twin=q202_ivf_hard_negatives: exact triplet mining ground " +
        "truth; IVF-probed candidates are the parity-pinned scale form"),
    "q248_ndcg" ->
      ("twin=q83_ann_join: exact brute-force ranking is the judged " +
        "ground-truth retriever; the IVF cell join is the candidate " +
        "source at scale — the metric arithmetic downstream is bounded"),
    "q249_retrieval_metrics" ->
      ("twin=q83_ann_join: same exact-ranker candidate stage as q248; " +
        "everything after the top-10 table is |queries|-bounded"),
    "q250_rbo" ->
      ("twin=q83_ann_join: two exact rankings (full + prefix) as the " +
        "compared systems; RBO itself is a top-10 x top-10 equi-join"),
    "q200_matryoshka_agreement" ->
      ("twin=q203_ivf_matryoshka_agreement: exact full-vs-prefix " +
        "agreement ground truth; IVF-probed candidates are the " +
        "parity-pinned scale form"),
    // ---- bounded-by-construction broadcast sides: the build side's
    // row count is a model/domain constant, not a corpus statistic ----
    "q253_krippendorff" ->
      ("bounded: coincidence-marginal self-join runs on the per-" +
        "category totals table (rows = |categories| = 3, a rater-" +
        "design constant)"),
    "q255_naive_bayes" ->
      ("bounded: the fitted model attach (rows = |labels|, a class-" +
        "design constant); scoring is one corpus stream against it"),
    "q271_ql_dirichlet" ->
      ("bounded: collection-model attach (rows = |query terms| = 3, " +
        "a query constant); scoring is one stream of the per-doc " +
        "length table against it"),
    "q275_stickiness" ->
      ("bounded: the sliding-distinct range joins broadcast the DAY " +
        "SPINE (rows = #calendar days, the q122 argument); per " +
        "user-day fan-out is capped at the 28-day window"),
    "q34_activity_rank" ->
      ("bounded: rank map self-join runs on the per-user-count " +
        "DISTRIBUTION (rows <= max events per user), never the user table"),
    "q87_retention" ->
      "bounded: 4-row literal day-offset frame broadcast onto cohorts",
    "q125_chi2_drift" ->
      "bounded: per-language totals attach (rows = |langs|)",
    "q139_source_overlap" ->
      ("bounded: bit-test joins broadcast the SOURCE dimension " +
        "(rows = |sources|, required <= 63) and its |sources|^2/2 " +
        "pair spine onto the mask histogram — sources are domains, " +
        "a catalog constant, never corpus rows"),
    "q246_shapley_attribution" ->
      ("bounded: coalition arithmetic joins run on the 16-row mask " +
        "spine x 4-row channel table (the powerset universe is a " +
        "domain constant); the corpus never enters a non-equi join"),
    "q189_neyman_alloc" ->
      ("bounded: fractional-premium rank self-join over the per-" +
        "event-type table (rows = |event types|)"),
    "q177_centroid_confusion" ->
      "bounded: label-centroid table attach (rows = |labels|)",
    "q281_source_ablation" ->
      ("bounded: the ablation grid broadcasts the SOURCE LIST (rows = " +
        "|sources|, a corpus-design constant) onto the already-reduced " +
        "hash-group table; plus two 1-row scalar attaches"),
    "q83_ann_join" ->
      ("bounded: IVF centroid probe (rows = nCells, capped 65536 by " +
        "Ivf.cellsFor); the candidate join itself is equi on cell"),
    "q143_ann_label_agreement" ->
      ("bounded: IVF centroid probe (nCells cap 65536); candidate " +
        "join equi on cell"),
    "q202_ivf_hard_negatives" ->
      ("bounded: IVF centroid probe (nCells cap 65536); candidate " +
        "join equi on cell"),
    "q203_ivf_matryoshka_agreement" ->
      ("bounded: IVF centroid probe (nCells cap 65536); candidate " +
        "join equi on cell"),
    "q287_log_rank" ->
      ("bounded: 2-row literal arm spine broadcast onto the " +
        "day-bounded distinct-lifetime table (the q87 literal-frame " +
        "shape); the per-user pass is the one equi-grouped shuffle"))

  /** Is this BNLJ's broadcast side provably tiny — fed by a scalar
    * (groupless) aggregate or a limit? Those are the 1-row/≤k-row
    * scalar attaches that are legal without registration. */
  private def boundedBuildSide(b: BroadcastNestedLoopJoinExec): Boolean = {
    val build = if (b.buildSide == BuildLeft) b.left else b.right
    nodes(build).exists { case (p, _) =>
      isScalarAgg(p) || (unwrap(p) match {
        case _: GlobalLimitExec | _: CollectLimitExec |
            _: TakeOrderedAndProjectExec => true
        case _ => false
      })
    }
  }

  /** Why a global sort over a one-partition coalesce would funnel a
    * large input through one task, if it would. It is legal only where
    * [[graft.etl.OnePartitionSort.refusal]] — the predicate the strategy
    * itself decides by — accepts its input: the logical sort it was
    * planned from, or, for a sort no strategy planned, the logical plan
    * under its coalesce. */
  private def sortFunnel(sort: SortExec, coalesce: SparkPlan): Option[String] = {
    val input = sort.logicalLink.collect { case l: logical.Sort => l.child }
      .orElse(coalesce.children.headOption.flatMap(_.logicalLink))
    input.fold(Option("an input with no logical plan")) { l =>
      graft.etl.OnePartitionSort.refusal(l, spark.sessionState.conf).map {
        case "coalescing off" => "AQE partition coalescing is off"
        case "over bound" => s"${graft.etl.OnePartitionSort.inputBytes(l)} bytes over the " +
          s"${graft.etl.OnePartitionSort.bound(spark.sessionState.conf).get}-byte bound"
        case why if why.startsWith("unsized ") => s"a leaf of unknown size (${why.drop(8)})"
        case why => s"a row-multiplying node ($why)"
      }
    }
  }

  /** The scale-killer shapes in one physical plan (round-5 verdict #5),
    * checked on EVERY catalog plan so that a regression in a query no
    * PlansSpec pin covers can't land silently:
    *  - CartesianProduct — the all-pairs fallback of a degenerate
    *    join; always a rewrite bug here (broadcast attaches plan as
    *    BroadcastNestedLoopJoin, which stays legal).
    *  - Planned single-partition shuffle — the "funnel the corpus
    *    through one task" shape (global rank or row_number), legal only
    *    feeding a scalar aggregate (1 row) or a global limit (≤ k rows).
    *  - One-partition sort — a global sort over a one-partition
    *    coalesce, legal only inside [[sortFunnel]]'s bound.
    *  - Global window — an empty partitionSpec serializes the whole
    *    input into one task at 100 TB, even under a range shuffle.
    *  - CodegenFallback predicate in a scan stage — it breaks codegen
    *    and pushdown where data volume is highest (parse/decode
    *    PROJECTIONS at the scan stay legal; the lint is about
    *    predicates).
    *  - BroadcastNestedLoopJoin with an unbounded build side — legal
    *    only for a `name` in [[labelledQuadratics]]; the Boolean says
    *    whether the plan holds one at all, registered or not.
    */
  private def lintPlan(name: String, plan: SparkPlan): (Seq[String], Boolean) = {
    val violations = Seq.newBuilder[String]
    var quadratic = false
    nodes(plan).foreach {
      case (_: CartesianProductExec, _) =>
        violations += s"$name: CartesianProduct"
      case (b: BroadcastNestedLoopJoinExec, _) if !boundedBuildSide(b) =>
        quadratic = true
        if (!labelledQuadratics.contains(name))
          violations += s"$name: unregistered BroadcastNestedLoopJoin " +
            "(label it in labelledQuadratics with its twin, or prove the " +
            "build side bounded)"
      case (s: ShuffleExchangeExec, parent)
          if s.outputPartitioning == SinglePartition =>
        val bounded = isScalarAgg(s.child) ||
          parent.map(unwrap).exists(_.isInstanceOf[GlobalLimitExec]) ||
          boundedGlobalWindow.contains(name)
        if (!bounded)
          violations += s"$name: unbounded SinglePartition shuffle " +
            s"(parent ${parent.map(_.nodeName).getOrElse("-")})"
      case (s: SortExec, _) if graft.tools.QueryTime.onePartitionSort(s) =>
        sortFunnel(s, unwrap(s.child)).foreach(why =>
          violations += s"$name: one-partition sort over $why")
      case (w: WindowExec, _) if w.partitionSpec.isEmpty &&
          !boundedGlobalWindow.contains(name) =>
        violations += s"$name: global (unpartitioned) window"
      case (f: FilterExec, _) if inScanStage(f) &&
          f.condition.exists(_.isInstanceOf[CodegenFallback]) =>
        violations += s"$name: CodegenFallback predicate in scan " +
          s"stage (${f.condition.sql.take(120)})"
      case _ => ()
    }
    (violations.result(), quadratic)
  }

  private val records = collection.mutable.Map.empty[String, Try[Swept]]

  /** Builds `q` once, reads every check's input off that frame, runs
    * it once and releases the blocks its build persisted. */
  private def record(q: GraftQuery): Try[Swept] =
    records.getOrElseUpdate(q.name, Try {
      try {
        val df = q.run(spark, SparkTestSession.Sf0001)
        val offList = df.schema.fields.toSeq
          .filterNot(f => QueriesSpec.hashSafeTypes.contains(f.dataType))
        val sumSites = DoubleSums.sites(df)
        // The lint reads the planner's plan, taken before collect()
        // finalizes this same AdaptiveSparkPlanExec in place: at sf0.001
        // AQE's runtime choices are sized to the fixture and say nothing
        // about 100 TB shapes.
        val (lint, quadratic) =
          lintPlan(q.name, df.queryExecution.executedPlan)
        // collect(), not count(): count() lets the optimizer drop the
        // final orderBy (EliminateSorts) and prune every output column.
        Swept(offList, sumSites, lint, quadratic, df.collect().length)
      } finally Bench.reset(spark)
    })

  /** Every catalog query's record. A query that failed fails the
    * caller too: a register cannot be judged on an incomplete sweep. */
  private def sweep(): Seq[(String, Swept)] = {
    val all = Catalog.all.map(q => q.name -> record(q))
    val failed = all.collect { case (n, Failure(e)) => s"$n: $e".take(300) }
    assert(failed.isEmpty,
      s"the catalog sweep is incomplete:\n  ${failed.mkString("\n  ")}")
    all.map { case (n, r) => n -> r.get }
  }

  Catalog.all.foreach { q =>
    test(s"${q.name} executes at sf0.001") {
      val r = record(q).get
      assert(r.offList.isEmpty,
        s"${q.name} emits column(s) outside the driver-hash-proven type " +
          s"allowlist {int, bigint, double, string, date, timestamp}: " +
          r.offList.map(f => s"${f.name}: ${f.dataType.simpleString}")
            .mkString(", ") +
          " — cast the final emission to an allowlisted type (q286 " +
          "lesson: the result hash is type-sensitive)")
      if (!mayBeEmpty(q.name)) assert(r.rows > 0, s"${q.name} returned no rows")
    }
  }

  test("the decimal-output lint fires on a planted decimal column") {
    // the allowlist is the decimal lint: a top-level AND a nested
    // decimal are both off-list
    val planted = spark.sql(
      "SELECT CAST(1 AS DECIMAL(38,0)) AS d, array(CAST(2 AS DECIMAL(10,2))) AS a")
    assert(!planted.schema.fields.exists(f => QueriesSpec.hashSafeTypes.contains(f.dataType)))
  }

  test("the type allowlist reddens on planted off-list columns") {
    // anti-rot for the positive lint: each planted column is a type a
    // plausible refactor could emit by accident — float32 (a Float
    // literal or ML vector element), array (a forgotten explode),
    // decimal (unconverted accumulation), boolean (a raw predicate),
    // binary (a raw hash) — and every one must classify off-list.
    val planted = spark.sql(
      "SELECT CAST(1.5 AS FLOAT) AS f, array(1L) AS a, " +
        "CAST(1 AS DECIMAL(38,0)) AS d, (1 = 1) AS b, " +
        "unhex('AB') AS bin, named_struct('x', 1) AS s")
    planted.schema.fields.foreach { f =>
      assert(!QueriesSpec.hashSafeTypes.contains(f.dataType),
        s"planted off-list column ${f.name} passed the allowlist")
    }
    val clean = spark.sql(
      "SELECT 1 AS i, 1L AS l, 1.0D AS d, 'x' AS s, " +
        "DATE '2024-01-01' AS dt, TIMESTAMP '2024-01-01 00:00:00' AS ts")
    clean.schema.fields.foreach { f =>
      assert(QueriesSpec.hashSafeTypes.contains(f.dataType),
        s"allowlisted type ${f.dataType} failed the allowlist")
    }
  }

  test("entry() returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key exists in queries and SQL is non-empty") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(SparkEntry.queries.contains(k))
      assert(sql.trim.nonEmpty)
    }
  }

  /** A digest of `df`'s rows in a row-order-free form: each row's
    * string, sorted, then MD5. Doubles print exactly, so a trailing-ulp
    * difference changes it. */
  private def rowsDigest(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5").digest(rows.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The queries of `names` whose rows differ between shuffle widths
    * 1, 5 and 32 at sf0.001, with each width's digest. */
  private def widthDependent(names: Seq[String]): Seq[String] = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try names.flatMap { name =>
      val q = SparkTestSession.fixture(name)
      val digests = Seq(1, 5, 32).map { w =>
        spark.conf.set(key, w.toString)
        try w -> rowsDigest(q.run(spark, SparkTestSession.Sf0001))
        finally Bench.reset(spark)
      }
      if (digests.map(_._2).distinct.size > 1) Some(s"$name: ${digests.mkString(", ")}")
      else None
    } finally spark.conf.set(key, saved)
  }

  test("queries that share an intermediate through the plan return the same rows at widths 1, 5 and 32") {
    val differ = widthDependent(OnePassSpec.sharedInPlan.map(_._1))
    assert(differ.isEmpty, s"results differ by width:\n  ${differ.mkString("\n  ")}")
  }

  test("queries whose sort over a join plans in one partition return the same rows at widths 1, 5 and 32") {
    // those the test above replays are not run twice
    val differ = widthDependent(
      OnePassSpec.onePartitionJoin.map(_._1).diff(OnePassSpec.sharedInPlan.map(_._1)))
    assert(differ.isEmpty, s"results differ by width:\n  ${differ.mkString("\n  ")}")
  }

  private val checkpointCall = """\.localCheckpoint\(""".r

  /** The `localCheckpoint` call sites of the catalog's query modules. */
  private def catalogCheckpoints(sites: Seq[(String, Int, String)]) =
    sites.filter(_._1.startsWith("queries/"))

  test("the checkpoint lint counts a planted call and skips comments") {
    assert(checkpointCall.findFirstIn(SourceLint.code("df.localCheckpoint(false)")).nonEmpty)
    assert(checkpointCall.findFirstIn(SourceLint.code("// df.localCheckpoint(false)")).isEmpty)
    assert(catalogCheckpoints(Seq(("queries/X.scala", 1, ""), ("text/Y.scala", 1, ""))).size == 1)
  }

  test("the query modules hold no more localCheckpoint calls than the ceiling") {
    val sites = catalogCheckpoints(SourceLint.sites(checkpointCall))
    assert(sites.size <= QueriesSpec.checkpointCeiling,
      s"${sites.size} localCheckpoint calls under queries/ — share the " +
        "intermediate through the plan (AQE reuses an identical exchange), " +
        "or raise the ceiling with the reason the checkpoint is needed:\n  " +
        sites.map { case (f, l, t) => s"$f:$l  $t" }.mkString("\n  "))
  }

  test("the rows-only tail is exactly the documented nine") {
    // Round-4 verdict mandate: any new sketch/ANN/hash operator must
    // carry a real oracle or REPLACE one of these — the list may
    // shrink, and grows ONLY by judge mandate. Each entry's graduation
    // was probed and rejected for value honesty (COVERAGE round-5
    // item 7: PQ recall gaps, engine-specific sketch values, no SQL
    // twin for a learned merge table); q202/q203's quantizer cells
    // are engine-specific, so they are rows-only by construction,
    // parity-pinned ≥ 0.9 vs their exact twins in LabelQualitySpec.
    val noOracle = Catalog.all.filter(_.oracle.isEmpty).map(_.name).toSet
    val documented = Set(
      "q32_approx_distinct", "q52_approx_percentiles",
      "q82_hll_merge", "q83_ann_join", "q106_pq_ann", "q128_bpe_train",
      "q143_ann_label_agreement",
      "q202_ivf_hard_negatives", "q203_ivf_matryoshka_agreement")
    assert(noOracle === documented,
      s"rows-only drift: +${noOracle -- documented} -${documented -- noOracle}")
  }

  test("no catalog plan contains a scale-killer shape (sweep at sf0.001)") {
    val swept = sweep()
    val violations = swept.flatMap(_._2.lint)
    val quadratics = swept.collect { case (n, r) if r.quadratic => n }.toSet
    // register validation: twins must be real catalog queries, and the
    // register must be EXACT — a stale entry (query no longer planning
    // a BNLJ) is as much drift as a missing one
    val names = Catalog.all.map(_.name).toSet
    labelledQuadratics.foreach { case (k, v) =>
      assert(names.contains(k), s"labelledQuadratics has unknown query $k")
      if (v.startsWith("twin=")) {
        val twin = v.drop("twin=".length).takeWhile(_ != ':').trim
        assert(names.contains(twin),
          s"$k names nonexistent twin '$twin'")
        assert(twin != k, s"$k cannot be its own twin")
      } else assert(v.startsWith("bounded:"),
        s"$k entry must start with 'twin=<name>:' or 'bounded:'")
    }
    val stale = labelledQuadratics.keySet -- quadratics
    assert(stale.isEmpty,
      s"labelledQuadratics entries no longer planning a BNLJ: $stale")
    assert(violations.isEmpty,
      s"scale-killer plan shapes found:\n  ${violations.mkString("\n  ")}")
  }

  test("the plan lint flags planted scale-killer shapes and stays quiet on bounded ones") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def lint(df: DataFrame) = lintPlan("planted", df.queryExecution.executedPlan)
    def flags(df: DataFrame, shapes: String*) =
      shapes.forall(s => lint(df)._1.exists(_.contains(s)))
    val (a, b) = (spark.range(100).toDF("x"), spark.range(100).toDF("y"))
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(threshold)
    try {
      spark.conf.set(threshold, "-1")
      assert(flags(a.crossJoin(b), ": CartesianProduct"))
    } finally saved.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    assert(flags(a.select(row_number().over(Window.orderBy($"x"))),
      "global (unpartitioned) window", "unbounded SinglePartition shuffle"))
    val nlj = a.join(broadcast(b), $"x" < $"y")
    assert(flags(nlj, "unregistered BroadcastNestedLoopJoin") && lint(nlj)._2)
    // a lambda predicate (ArrayExists) is interpreted, not generated
    val p = s"${java.nio.file.Files.createTempDirectory("graft_planlint")}/t"
    spark.range(10).select(array($"id").as("arr")).write.parquet(p)
    assert(flags(spark.read.parquet(p).filter(exists($"arr", _ > 5)),
      "CodegenFallback predicate in scan stage"))
    // bounded build sides: a 1-row scalar aggregate and a ≤ k-row limit
    assert(lint(a.crossJoin(b.agg(max($"y")))) == ((Nil, false)))
    assert(lint(a.join(broadcast(b.limit(5)), $"x" < $"y")) == ((Nil, false)))
    // a one-partition sort no strategy planned, over a join whose keys
    // repeat on both sides; the same sort over a left anti join is legal
    val r = s"${java.nio.file.Files.createTempDirectory("graft_planlint")}/r"
    spark.range(100).select(($"id" % 7).as("k")).write.parquet(r)
    def funnel(joinType: String) = {
      val join = spark.read.parquet(r)
        .join(spark.read.parquet(r).toDF("k2"), $"k" === $"k2", joinType).queryExecution.sparkPlan
      lintPlan("planted", SortExec(join.output.take(1).map(SortOrder(_, Ascending)),
        global = true, CoalesceExec(1, join)))._1
    }
    assert(funnel("inner").exists(_.contains("one-partition sort over a row-multiplying node (join)")),
      funnel("inner"))
    assert(funnel("left_anti").isEmpty, funnel("left_anti"))
  }

  test("the plan lint flags a one-partition sort over the bound or a row-multiplying node, and stays quiet in bound") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def lint(df: DataFrame) = lintPlan("planted", df.queryExecution.executedPlan)._1
    def sorts(df: DataFrame) = nodes(df.queryExecution.executedPlan)
      .count { case (p, _) => graft.tools.QueryTime.onePartitionSort(p) }
    val p = s"${java.nio.file.Files.createTempDirectory("graft_sortlint")}/t"
    spark.range(100).select($"id".as("x"), array($"id", $"id" + 1).as("arr"))
      .write.parquet(p)
    val small = spark.read.parquet(p)
    // in bound: the strategy's own plan, and a user's coalesce(1)
    assert(sorts(small.orderBy($"x")) == 1 && lint(small.orderBy($"x")).isEmpty)
    assert(lint(small.coalesce(1).orderBy($"x")).isEmpty)
    val exploded = small.select(explode($"arr").as("x")).coalesce(1).orderBy($"x")
    assert(sorts(exploded) == 1 &&
      lint(exploded).exists(_.contains("one-partition sort over a row-multiplying node")))
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "16")
      val over = small.coalesce(1).orderBy($"x")
      assert(sorts(over) == 1 &&
        lint(over).exists(_.contains("-byte bound")), lint(over))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // The inexact-SUM register (round-11 verdict #2) is EXACT: a new
  // unregistered site fails (forcing the author to integerize it, fold
  // it deterministically, or own the residual), and so does a stale
  // entry, so the COVERAGE.md inventory cannot drift from the code.
  test("every inexact-SUM site is registered, and the register is exact") {
    val flagged = sweep().collect {
      case (n, r) if r.sumSites.nonEmpty => n -> r.sumSites
    }.toMap
    val unregistered = flagged.keySet -- DoubleSums.registry.keySet
    assert(unregistered.isEmpty,
      "unregistered inexact-SUM site(s) — classify in DoubleSums.registry " +
        "(exact / grid / residual / no-oracle) and record in COVERAGE.md's " +
        "round-12 inventory:\n" +
        unregistered.toSeq.sorted.map(n =>
          s"  $n:\n    ${flagged(n).mkString("\n    ")}").mkString("\n"))
    val stale = DoubleSums.registry.keySet -- flagged.keySet
    assert(stale.isEmpty,
      s"stale DoubleSums.registry entries (no inexact-SUM site planned " +
        s"anymore — delete them): ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("registry entries name real catalog queries with classified rationales") {
    val validPrefixes = Seq("exact:", "grid(2dp):", "residual:", "no-oracle:")
    val names = Catalog.all.map(_.name).toSet
    DoubleSums.registry.foreach { case (k, v) =>
      assert(names.contains(k), s"DoubleSums.registry has unknown query $k")
      assert(validPrefixes.exists(v.startsWith),
        s"$k rationale must start with one of ${validPrefixes.mkString(", ")}")
    }
  }

  test("the detector fires on planted sum/avg/moment sites and stays quiet on safe shapes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Seq((1L, 0.5, 1.0f), (2L, 1.5, 2.0f)).toDF("k", "d", "f")
    // planted positives: double sum, float sum, double avg, moment, corr
    assert(DoubleSums.sites(base.agg(sum($"d"))).exists(_.contains("sum")))
    assert(DoubleSums.sites(base.agg(sum($"f"))).exists(_.contains("sum")))
    assert(DoubleSums.sites(base.agg(avg($"d"))).exists(_.contains("avg")))
    assert(DoubleSums.sites(base.agg(stddev($"d")))
      .exists(_.contains("stddev")))
    assert(DoubleSums.sites(base.agg(corr($"d", $"f")))
      .exists(_.contains("corr")))
    // planted positive: a WINDOW sum over double is flagged as window
    val w = org.apache.spark.sql.expressions.Window.orderBy($"k")
    assert(DoubleSums.sites(base.select(sum($"d").over(w)))
      .exists(_.startsWith("window")))
    // quiet: long sums, counts, decimal accumulation (the agreement-
    // family exact-integer pattern), and the q246 deterministic fold
    // (higher-order aggregate over a sorted collect_list) do not flag
    assert(DoubleSums.sites(base.agg(sum($"k"))).isEmpty)
    assert(DoubleSums.sites(base.agg(count(lit(1)))).isEmpty)
    assert(DoubleSums.sites(
      base.agg(sum($"k".cast("decimal(38,0)")))).isEmpty)
    assert(DoubleSums.sites(base.groupBy($"k")
      .agg(aggregate(array_sort(collect_list(struct($"k", $"d"))),
        lit(0.0), (acc, x) => acc + x.getField("d")).as("fold"))).isEmpty)
  }
}
