package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Plan-shape assertions codifying COVERAGE.md's scale-audit claims —
  * the properties the 100 TB design rests on. Each reads the physical
  * plan of the catalog query at fixture scale; none executes the query.
  */
class PlansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def plan(name: String): String =
    Catalog.all.find(_.name == name).get
      .run(spark, SparkTestSession.Sf0001)
      .queryExecution.executedPlan.toString

  test("layout consumers scan their write-once storage, not the derivation") {
    // q56 reads the component layout, q26 the shingle layout, q83 the
    // IVF layout — each plan must contain a parquet scan over the
    // layout directory INSTEAD of the in-query rebuild (no shingle
    // window in q56/q26's plan prefix, no KMeans leftovers in q83's).
    // Guards the round-5 storage treatment from silently regressing
    // to per-query recomputation.
    assert(plan("q56_dedup_components").contains("graft_components"),
      "q56 must read ComponentLayout")
    val p26 = plan("q26_ngram_jaccard")
    assert(p26.contains("graft_shingles"), "q26 must read ShingleLayout")
    assert(!p26.contains("posexplode"),
      "q26 must not re-derive shingles from text")
    assert(plan("q83_ann_join").contains("graft_ivf"),
      "q83 must read IvfLayout")
  }

  test("q05 broadcast chain: three broadcast joins, zero shuffle joins") {
    val p = plan("q05_multijoin_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).length === 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q10 date-range predicate pushes to the parquet scan") {
    val p = plan("q10_date_range")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
  }

  test("q01 scan prunes to the referenced lineitem columns") {
    val p = plan("q01_lineitem_agg")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_comment") && !p.contains("l_shipmode"),
      s"unreferenced columns must not be read:\n$p")
  }

  test("q44 top-K aggregate stays on the object-hash path") {
    val p = plan("q44_topk_aggregate")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"),
      s"raised fallback threshold must keep hash aggregation:\n$p")
  }

  test("q34 rank map is window-free") {
    val p = plan("q34_activity_rank")
    assert(!p.contains("Window"), s"q34 must not use a window:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q62 decile assignment is window-free (broadcast cutoffs, no ntile)") {
    val p = plan("q62_decile_bucket")
    assert(!p.contains("Window"), s"q62 must not rank through a window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q65 z-score joins broadcast stats instead of a whole-table window") {
    val p = plan("q65_zscore_norm")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), s"q65 must not window over the corpus:\n$p")
  }

  test("q63 moving-average window is partitioned, never global") {
    val p = plan("q63_moving_avg")
    assert(p.contains("windowspecdefinition(event_type"),
      s"q63's frame must partition by event_type:\n$p")
  }

  test("q64 group-sample window is partitioned by source") {
    val p = plan("q64_group_sample")
    assert(p.contains("windowspecdefinition(source"),
      s"q64's rank must partition by source:\n$p")
  }

  test("q66 salted join shuffles on (key, salt), spreading hot keys") {
    val p = plan("q66_salted_join")
    assert(p.contains("SortMergeJoin"), p)
    assert("SortMergeJoin \\[[^\\]]*salt".r.findFirstIn(p).isDefined,
      s"salt must be part of the join key:\n$p")
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("q73 scan carries a dynamic partition pruning filter") {
    val q = Catalog.all.find(_.name == "q73_partition_pruned_join").get
      .run(spark, SparkTestSession.Sf0001)
    q.collect() // DPP subquery is planted at planning, visible pre-exec too
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"fact scan must be runtime-pruned by the dim dates:\n$p")
    assert(p.contains("PartitionFilters"), p)
  }

  test("q74 probes the bloom sketch below the shuffle join") {
    val p = plan("q74_bloom_join_filter")
    assert(p.contains("bloom_might_contain"),
      s"fact side must carry the sketch probe:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"the demo regime is a non-broadcast join:\n$p")
    // tree order: the probe Filter prints BELOW (after) the join and
    // its exchanges — i.e. inside the scan stage, so the shuffle above
    // it only ships survivors
    assert(p.indexOf("bloom_might_contain") > p.indexOf("Exchange"), p)
  }

  test("q75 band join runs as an equi hash join, not a nested loop") {
    val p = plan("q75_binned_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"binning must turn the range join into an equi join:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q76 cube runs as one Expand + aggregate, not one scan per grouping set") {
    val p = plan("q76_cube_revenue")
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).length === 1,
      s"CUBE must not multiply scans:\n$p")
  }

  test("q84 distribution windows are nation-partitioned, never global") {
    val p = plan("q84_distribution_windows")
    assert(p.contains("percent_rank"), p)
    assert(!p.contains("SinglePartition"),
      s"no global-window exchange allowed:\n$p")
  }

  test("q85 gap-fill window is user-partitioned, never global") {
    val p = plan("q85_gap_fill")
    // the only SinglePartition allowed is the 1-row bounds aggregate;
    // the forward-fill window itself must carry the user partition spec
    assert(p.contains("windowspecdefinition(user_id"),
      s"forward-fill must partition by user:\n$p")
    assert(!p.contains("windowspecdefinition(day"), p)
  }

  test("q92 runs a native session-window aggregate") {
    val p = plan("q92_session_window")
    assert(p.contains("session_window"), p)
  }

  test("q94 applies the change set through one full-outer join") {
    val p = plan("q94_upsert_apply")
    assert(p.contains("FullOuter"), p)
    assert("Join".r.findAllIn(p).length >= 1, p)
  }

  test("q95 subqueries are decorrelated into joins, not re-executed per row") {
    val p = plan("q95_sql_correlated")
    assert(p.contains("LeftSemi"),
      s"EXISTS must rewrite to a semi join:\n$p")
    // the correlated scalar subquery becomes an aggregate joined back
    assert(p.contains("avg("), p)
  }

  test("q36 as-of join keys on the equi column with the range as residual") {
    val p = plan("q36_asof_next_ship")
    // join TYPE is size-dependent (broadcast at fixture scale, SMJ at
    // 100 TB) — the invariant is an equi join carrying the date bound
    // as a residual condition, never a cross join
    assert(p.contains("HashJoin [o_orderkey") || p.contains("SortMergeJoin [o_orderkey"), p)
    assert(p.contains("date_add"), s"range residual must ride the join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range residual must ride the equi join, not a cross join:\n$p")
  }

  test("q117 SCD2 build shuffles once: both windows share the user partition") {
    val p = plan("q117_scd2_build")
    assert("hashpartitioning\\(user_id".r.findAllIn(p).length >= 1, p)
    assert(p.contains("windowspecdefinition(user_id"),
      s"segmenting windows must partition by user:\n$p")
  }

  test("q121 EWMA windows are user-partitioned, never global") {
    val p = plan("q121_ewma")
    assert(p.contains("windowspecdefinition(user_id"),
      s"running sums must partition by user:\n$p")
  }

  test("q125 drift monitor broadcasts the corpus shares") {
    val p = plan("q125_chi2_drift")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"lang shares and totals must broadcast, not shuffle:\n$p")
  }

  test("q123 co-purchase self-join keys on the order, pairs as residual") {
    val p = plan("q123_copurchase_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay within the order key:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be TakeOrdered partials:\n$p")
  }

  test("q118 point-in-time join keys on user with interval residual") {
    val p = plan("q118_pit_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"validity-interval lookup must ride the user_id equi join:\n$p")
    assert(p.contains("Join") && p.contains("valid_from"),
      s"interval bounds must be a join residual:\n$p")
  }

  test("q112 pushes all three filters to their scans and takes, not sorts") {
    val p = plan("q112_shipping_priority")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter must reach the customer scan:\n$p")
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrdered partials, not a global sort:\n$p")
  }

  test("q113 star shape: dims broadcast, facts pruned, top-20 taken") {
    val p = plan("q113_returned_items")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag must reach the lineitem scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q114 SHUFFLE_HASH hint flips the strategy without changing results") {
    val p = plan("q114_join_hint")
    assert(p.contains("ShuffledHashJoin"),
      s"hint must force a shuffled hash join:\n$p")
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("q101 mixture draw is a pure scan-side filter — no join, no aggregate") {
    val p = plan("q101_mixture_sample")
    assert(!p.contains("Join"), s"hash sampling must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"hash sampling must not aggregate:\n$p")
    // only the presentation sort may shuffle
    assert(!p.contains("hashpartitioning"),
      s"the only exchange allowed is the output range sort:\n$p")
  }

  test("q102 packing windows per shard, never a global cumulative sum") {
    val p = plan("q102_seq_packing")
    assert(p.contains("windowspecdefinition(shard"),
      s"the running offset must partition by shard:\n$p")
    assert(!p.contains("SinglePartition, ENSURE_REQUIREMENTS"),
      s"no stage may collapse to one partition:\n$p")
  }

  test("q104 interval range frame is user-partitioned with a RANGE spec") {
    val p = plan("q104_range_window")
    assert(p.contains("windowspecdefinition(user_id"),
      s"the trailing window must partition by user:\n$p")
    assert(p.contains("RangeFrame") && p.contains("INTERVAL '-7' DAY"),
      s"frame must be an interval RANGE, not ROWS:\n$p")
  }

  test("q105 correlated LATERAL limit rewrites to a partitioned rank") {
    val p = plan("q105_lateral_topk")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"LATERAL must decorrelate, not nest-loop per outer row:\n$p")
    assert(p.contains("windowspecdefinition(c_nationkey") ||
      p.contains("Limit"),
      s"per-group limit must execute as rank-or-limit, found:\n$p")
  }

  test("q55 probes the CMS below the shuffle, with no Expand in the exact pass") {
    val p = plan("q55_heavy_hitters")
    // the sketch filter must sit in the scan stage (below every
    // exchange) so only candidate keys reach the shuffle…
    assert(p.contains("cms_estimate"), p)
    assert(p.lastIndexOf("Exchange") < p.indexOf("cms_estimate"),
      s"cms_estimate must be below the last exchange (scan stage):\n$p")
    // …and the exact pass must never regress into the multi-distinct
    // Expand plan (the 8x cost lesson — see the query's scaladoc)
    assert(!p.contains("Expand"), s"no Expand in the exact pass:\n$p")
  }

  test("q136 heavy-tail grams join back broadcast; no string grams in exchanges") {
    val p = plan("q136_boilerplate_ngrams")
    // the coverage probe must be a broadcast join (the positional
    // stream's only shuffle is the final per-doc aggregate)…
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"the df heavy tail must broadcast, not co-shuffle:\n$p")
    // …and gram keys must ride hashed, never as strings: since round
    // 13 the xxhash64 projection lives INSIDE the checkpointed
    // (doc_id, g, m) fold (invisible to this outer plan), so the pin
    // is that no `sh` string column survives into the visible plan —
    // every exchange downstream of the checkpoint carries long keys
    assert(p.contains("Scan ExistingRDD"),
      s"the (doc_id, g, m) fold must be checkpointed once:\n$p")
    assert(!p.contains("sh#"),
      s"string grams must never reach an exchange:\n$p")
  }

  test("q141 selects neighbors through the bounded heap, not a sort") {
    val p = plan("q141_knn_label_agreement")
    assert(p.contains("top_k_by"), p)
    // no rank window and no sort below the aggregate: the only Sort
    // allowed is the final output ORDER BY vec_id
    assert(!p.contains("windowspecdefinition"),
      s"q141 must not rank through a window:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"the heap aggregate must stay on the hash path:\n$p")
  }

  test("q142 joins label centroids broadcast; corpus never explodes for scoring") {
    val p = plan("q142_centroid_outliers")
    assert(p.contains("BroadcastHashJoin"), p)
    // exactly one Generate (the centroid-building posexplode); the
    // scoring side consumes whole arrays through the native vector ops
    assert("Generate".r.findAllIn(p).length === 1,
      s"only the centroid build may explode:\n$p")
  }

  test("q159 ranks through one range sort, never a global window") {
    val p = plan("q159_global_ids")
    // row_number over ORDER BY alone is one window partition behind a
    // single-partition exchange: the global funnel
    assert(!p.contains("windowspecdefinition") && !p.contains("SinglePartition"),
      s"no window and no single-partition exchange may rank the corpus:\n$p")
    // GlobalRank hands back the offset pass over its range-sorted rows
    assert(p.contains("Scan ExistingRDD"),
      s"the ids must come from GlobalRank's offset pass:\n$p")
  }

  test("q151 counts gram occurrences through partial aggregation, not a window") {
    val p = plan("q151_exact_substr_spans")
    // the gram-df count must be a splittable aggregate (map-side
    // partial agg collapses boilerplate grams; AQE can split the
    // join-back) — a count-over-window on sh would serialize each
    // heavy gram into one task. The only windows allowed are the
    // per-doc ones (shingle lead + sweep), never one keyed on sh.
    assert(!p.contains("windowspecdefinition(sh"),
      s"q151 must not window-partition on the gram key:\n$p")
    assert(p.contains("LeftSemi"), s"dup grams must semi-join back:\n$p")
  }

  test("q152 reads the span layout and anti-joins tokens out") {
    val p = plan("q152_exact_substr_cut")
    assert(p.contains("graft_substr_spans"), "q152 must read SpansLayout")
    assert(p.contains("LeftAnti"),
      s"covered tokens must leave via an anti join:\n$p")
    // exactly one Generate — the TOKEN explode (the cut's own input);
    // a second one would mean the span side re-derived its grams from
    // text instead of reading the layout
    assert("Generate".r.findAllIn(p).length === 1,
      s"only the token explode may generate:\n$p")
  }
}
