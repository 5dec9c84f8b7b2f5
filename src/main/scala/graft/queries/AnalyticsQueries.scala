package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.Tables._

/** Product-analytics wave over the events stream: gap-fill with
  * forward-fill (the time-series resample), ordered-stage funnel, and
  * cohort retention. All three are single-shuffle-on-user plans plus
  * broadcast-sized spines (date ranges, stage lists, offset lists) —
  * the shapes that keep them linear at 100 TB.
  */
object AnalyticsQueries {

  def queries: Seq[GraftQuery] = Seq(q85GapFill, q86Funnel, q87Retention,
    q117Scd2Build, q118PitJoin, q119PageRank, q121Ewma,
    q122CumulativeDistinct, q123CoPurchase, q124AbTest, q125ChiSquareDrift,
    q126Profile, q145ForecastBacktest, q161KnnRecommend, q167LabelProp,
    q189NeymanAlloc, q190SeasonalDecompose, q192KsTest, q194Interarrival,
    q195EventPaths, q196MarkovTransitions, q199AssociationRules, q201Cusum,
    q205Spearman, q206MannWhitney, q207KaplanMeier, q208TheilSen,
    q209Gini, q210MutualInfo, q211Benford, q212Attribution, q214AcfLjungBox,
    q222Hits, q235Winsorized, q236Rfm, q243FdDiscovery, q244Ppr,
    q245TimeToConvert, q246ShapleyAttribution, q275Stickiness,
    q276Cvm, q279Hill, q286MatrixProfile, q287LogRank)

  /** Time-series gap-fill: a user × day spine (dates from one
    * broadcast min/max row — never a driver collect), left-joined
    * daily sums, missing days carried forward with
    * `last(_, ignoreNulls)` over a rows-unbounded-preceding frame.
    * The window is user-partitioned; the spine explode is O(users ×
    * days) rows but zero bytes of input — at 100 TB the only real
    * cost is the one shuffle of daily aggregates on user_id.
    */
  val q85GapFill = GraftQuery(
    "q85_gap_fill",
    "user×day spine, daily sums gap-filled by forward-fill",
    Some("""WITH d AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
          ROUND(SUM(value), 2) AS v, COUNT(*) AS n
        FROM events GROUP BY 1, 2),
      b AS (SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
        FROM events),
      u AS (SELECT DISTINCT user_id FROM events),
      spine AS (
        SELECT u.user_id, CAST(unnest(generate_series(b.lo, b.hi,
          INTERVAL 1 DAY)) AS DATE) AS day FROM u, b),
      j AS (SELECT s.user_id, s.day, d.n, d.v
        FROM spine s LEFT JOIN d USING (user_id, day))
      SELECT user_id, day, COALESCE(CAST(n AS BIGINT), 0) AS n_events,
        ROUND(COALESCE(last_value(v IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0), 2) AS ff_v
      FROM j ORDER BY 1, 2"""),
    (s, d) => {
      val ev = events(s, d)
      val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("v"), count(lit(1)).as("n"))
      val bounds = ev.agg(min(to_date(col("ts"))).as("lo"),
        max(to_date(col("ts"))).as("hi"))
      val spine = ev.select(col("user_id")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), expr("interval 1 day")))
            .as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).as("n_events"),
          round(coalesce(last(col("v"), ignoreNulls = true).over(w), lit(0)), 2)
            .as("ff_v"))
        .orderBy(col("user_id"), col("day"))
    })

  /** Ordered-stage funnel (signup → view → purchase): one conditional
    * aggregate per user gets each stage's FIRST timestamp; the funnel
    * counts require strict ts order between stages. Timestamps compare
    * as epoch-µs longs on both sides (events.parquet is
    * TIMESTAMP(NANOS); Spark reads it truncated to µs, so the oracle
    * must compare at µs too). One shuffle on user_id, 1-row result.
    */
  val q86Funnel = GraftQuery(
    "q86_funnel",
    "signup→view→purchase ordered funnel counts",
    Some("""WITH s AS (
        SELECT user_id,
          MIN(CASE WHEN event_type = 'signup'
            THEN epoch_us(ts) END) AS t_signup,
          MIN(CASE WHEN event_type = 'view'
            THEN epoch_us(ts) END) AS t_view,
          MIN(CASE WHEN event_type = 'purchase'
            THEN epoch_us(ts) END) AS t_purchase
        FROM events GROUP BY 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(COUNT(t_signup) AS BIGINT) AS n_signup,
        CAST(SUM(CASE WHEN t_view > t_signup THEN 1 ELSE 0 END) AS BIGINT)
          AS n_signup_view,
        CAST(SUM(CASE WHEN t_view > t_signup AND t_purchase > t_view
          THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
      FROM s"""),
    (s, d) => funnel(events(s, d)))

  /** The funnel aggregate over any (user_id, event_type, ts) frame —
    * reused by GraftProps for the monotonicity property. */
  def funnel(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ev.groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", unix_micros(col("ts"))))
          .as("t_signup"),
        min(when(col("event_type") === "view", unix_micros(col("ts"))))
          .as("t_view"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("t_purchase"))
      .agg(count(lit(1)).as("n_users"),
        count(col("t_signup")).as("n_signup"),
        sum(when(col("t_view") > col("t_signup"), 1).otherwise(0))
          .as("n_signup_view"),
        sum(when(col("t_view") > col("t_signup") &&
          col("t_purchase") > col("t_view"), 1).otherwise(0))
          .as("n_full_funnel"))

  /** Cohort retention: users cohorted by first-seen day, checked for
    * activity at day offsets 0/7/14/21. The offset list is a 4-row
    * broadcast; activity is the distinct (user, day) set — the join
    * back is on (user_id, day), the same single shuffle key as
    * everything else in this wave.
    */
  val q87Retention = GraftQuery(
    "q87_retention",
    "cohort-by-first-day retention at offsets 0/7/14/21",
    Some("""WITH u AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
        FROM events GROUP BY 1),
      a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      x AS (SELECT u.user_id, u.cohort, o.off, u.cohort + o.off AS tday
        FROM u, (SELECT unnest([0, 7, 14, 21]) AS off) o)
      SELECT cohort, off, CAST(COUNT(*) AS BIGINT) AS n_cohort,
        CAST(COUNT(a.user_id) AS BIGINT) AS n_retained
      FROM x LEFT JOIN a ON a.user_id = x.user_id AND a.day = x.tday
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) => {
      import s.implicits._
      val ev = events(s, d)
      val cohorts = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cohort"))
      val active = ev
        .select(col("user_id").as("a_user"), to_date(col("ts")).as("a_day"))
        .distinct()
      val offsets = Seq(0, 7, 14, 21).toDF("off")
      cohorts.crossJoin(broadcast(offsets))
        .withColumn("tday", expr("date_add(cohort, off)"))
        .join(active,
          col("a_user") === col("user_id") && col("a_day") === col("tday"),
          "left")
        .groupBy(col("cohort"), col("off"))
        .agg(count(lit(1)).as("n_cohort"),
          count(col("a_user")).as("n_retained"))
        .orderBy(col("cohort"), col("off"))
    })

  /** SCD Type-2 dimension build: the per-user event-type history
    * compressed into validity intervals — segment boundaries where the
    * status CHANGES (lag comparison), segment ids by running sum of
    * boundaries (gaps-and-islands), then [valid_from, valid_to) with
    * `lead` and an open last interval. Two windows over the same
    * user partition → ONE shuffle on user_id; timestamps compared as
    * epoch-µs on both engines (events.parquet is ns; Spark reads µs).
    * This is the standard warehouse "dimension history" op — at 100 TB
    * the only cost is the user shuffle the rest of the wave already
    * pays. */
  val q117Scd2Build = GraftQuery(
    "q117_scd2_build",
    "SCD Type-2 validity intervals from the per-user status stream",
    Some("""WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
        FROM events),
      b AS (
        SELECT user_id, event_type, tus, event_id,
          CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
            THEN 1 ELSE 0 END AS boundary
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      seg AS (
        SELECT user_id, event_type, tus,
          SUM(boundary) OVER (PARTITION BY user_id ORDER BY tus, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
        FROM b),
      iv AS (
        SELECT user_id, CAST(seg_id AS BIGINT) AS seg_id,
          MIN(event_type) AS status, MIN(tus) AS valid_from,
          COUNT(*) AS n_events
        FROM seg GROUP BY user_id, seg_id)
      SELECT user_id, seg_id, status, valid_from,
        lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg_id)
          AS valid_to,
        n_events
      FROM iv ORDER BY user_id, seg_id"""),
    (s, d) => scd2(events(s, d))
      .orderBy(col("user_id"), col("seg_id")))

  /** The SCD2 build over any (user_id, event_type, ts, event_id)
    * frame — shared by q117 and q118's dimension side. */
  def scd2(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val wRow = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val e = ev.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tus"), col("event_id"))
    val seg = e
      .withColumn("boundary",
        when(lag(col("event_type"), 1).over(wRow) === col("event_type"), 0)
          .otherwise(1))
      .withColumn("seg_id", sum(col("boundary"))
        .over(wRow.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    seg
      .groupBy(col("user_id"), col("seg_id"))
      .agg(min(col("event_type")).as("status"),
        min(col("tus")).as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1)
        .over(Window.partitionBy(col("user_id")).orderBy(col("seg_id"))))
      .select(col("user_id"), col("seg_id"), col("status"),
        col("valid_from"), col("valid_to"), col("n_events"))
  }

  /** Point-in-time (as-of) join against the SCD2 dimension: each
    * purchase matched to the BROWSING-status interval that was valid
    * at purchase time (the dimension is built from non-purchase events
    * only, so the lookup is a genuine cross-activity join, not
    * self-identification). Spark plans the equi key (user_id) as the
    * join with the interval bounds as residual — the q36 as-of shape:
    * one shuffle, no cross join, works at 100 TB where the dimension
    * history and the fact stream are both huge. */
  val q118PitJoin = GraftQuery(
    "q118_pit_join",
    "point-in-time join: purchases against SCD2 validity intervals",
    Some("""WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
        FROM events WHERE event_type <> 'purchase'),
      b AS (
        SELECT user_id, event_type, tus, event_id,
          CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
            THEN 1 ELSE 0 END AS boundary
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      seg AS (
        SELECT user_id, event_type, tus,
          SUM(boundary) OVER (PARTITION BY user_id ORDER BY tus, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
        FROM b),
      iv AS (
        SELECT user_id, CAST(seg_id AS BIGINT) AS seg_id,
          MIN(event_type) AS status, MIN(tus) AS valid_from
        FROM seg GROUP BY user_id, seg_id),
      dim AS (
        SELECT user_id, seg_id, status, valid_from,
          lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg_id)
            AS valid_to
        FROM iv),
      p AS (
        SELECT event_id, user_id, epoch_us(ts) AS tus FROM events
        WHERE event_type = 'purchase')
      SELECT p.event_id, p.user_id, p.tus, d.status, d.valid_from
      FROM p JOIN dim d ON p.user_id = d.user_id
        AND d.valid_from <= p.tus
        AND (d.valid_to IS NULL OR p.tus < d.valid_to)
      ORDER BY p.event_id"""),
    (s, d) => {
      val ev = events(s, d)
      val dim = scd2(ev.where(col("event_type") =!= "purchase"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id").as("p_user"),
          unix_micros(col("ts")).as("tus"))
      p.join(dim, col("p_user") === col("user_id") &&
          col("valid_from") <= col("tus") &&
          (col("valid_to").isNull || col("tus") < col("valid_to")))
        .select(col("event_id"), col("user_id"), col("tus"),
          col("status"), col("valid_from"))
        .orderBy(col("event_id"))
    })

  /** PageRank (2 unrolled iterations, damping 0.85) over the bipartite
    * supplier↔part graph from lineitem — iterative graph analytics as
    * pure dataflow, the [[graft.text.Components]] pattern with weighted
    * propagation: each iteration is one shuffle join (edges ⋈ ranks)
    * plus one aggregate, never a collect. Edges and degrees are
    * localCheckpointed ONCE (they appear in every iteration's subtree —
    * the q27/q103 multi-use lesson); the node count rides along as a
    * broadcast 1-row aggregate, not a driver action. Output ordering
    * uses the ROUNDED rank (8 dp) with node-id tie-break: structurally
    * identical nodes have mathematically equal ranks whose float noise
    * (~1e-15) would otherwise order differently per engine. At 100 TB
    * iterations scale with diameter only; each is a standard keyed
    * shuffle that AQE sizes like any other join. Two rounds keep the
    * catalog's per-query cost bar (the 3-round form measured ~5 s at
    * sf0.1 — the structure is identical, one more edges⋈ranks join).
    */
  val q119PageRank = GraftQuery(
    "q119_pagerank",
    "PageRank over the supplier-part bipartite graph (2 unrolled rounds)",
    Some("""WITH edges AS (
        SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
        FROM lineitem
        UNION ALL
        SELECT DISTINCT 'p' || l_partkey, 's' || l_suppkey FROM lineitem),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      n AS (SELECT COUNT(*) AS cnt FROM nodes),
      pr0 AS (SELECT node, 1.0 / cnt AS pr FROM nodes, n),
      it1 AS (
        SELECT e.dst AS node, 0.15 / MIN(n.cnt) + 0.85 * SUM(p.pr / d.outdeg) AS pr
        FROM edges e JOIN pr0 p ON e.src = p.node
        JOIN deg d ON e.src = d.src, n GROUP BY e.dst),
      it2 AS (
        SELECT e.dst AS node, 0.15 / MIN(n.cnt) + 0.85 * SUM(p.pr / d.outdeg) AS pr
        FROM edges e JOIN it1 p ON e.src = p.node
        JOIN deg d ON e.src = d.src, n GROUP BY e.dst)
      SELECT node, ROUND(pr, 8) AS pr FROM it2
      ORDER BY ROUND(pr, 8) DESC, node LIMIT 20"""),
    (s, d) => {
      // LONG node ids (suppkey·2 / partkey·2+1) through every shuffle —
      // string keys measured 2× slower end-to-end at sf0.1; the 's'/'p'
      // labels are reconstructed in the final O(nodes) projection only.
      // Round-12 (guide §2.4 — remove shuffles outright): the weighted
      // edge frame and the node list come from the degree-annotated
      // GraphEdgesLayout tables (shared with q244), so the per-query
      // degree groupBy, the edges⋈degrees join and BOTH
      // localCheckpoints are gone — iterations re-read the write-once
      // layout (a pure scan+project, the production shape) instead of
      // materializing a per-run copy to executor storage.
      val w = graft.sources.GraphEdgesLayout.supplierPartDegrees(s, d)
        .select((col("s").cast("long") * 2).as("s"),
          (col("p").cast("long") * 2 + 1).as("p"),
          col("sdeg").cast("long").as("sdeg"),
          col("pdeg").cast("long").as("pdeg"))
      val ew = w.select(col("s").as("src"), col("p").as("dst"),
          col("sdeg").as("outdeg"))
        .union(w.select(col("p"), col("s"), col("pdeg")))
      val nodes = graft.sources.GraphEdgesLayout.nodes(s, d)
        .select((col("key").cast("long") * 2 + (lit(1) - col("is_s")))
          .as("node"))
      pageRankOn(ew, nodes, iters = 2)
        .select(
          concat(when(col("node") % 2 === 0, lit("s")).otherwise(lit("p")),
            shiftright(col("node"), 1)).as("node"),
          round(col("pr"), 8).as("pr"))
        .orderBy(round(col("pr"), 8).desc, col("node"))
        .limit(20)
    })

  /** Two-round semi-supervised label propagation over the
    * supplier–part bipartite graph (q119's edge set) — the
    * graph-side label-denoising primitive (propagate trusted labels
    * through co-occurrence links, then ask whether each seed's
    * neighborhood agrees with its recorded label; confident-learning's
    * graph analog, the link-based complement of q141's geometric
    * test). Seeds are suppliers labeled by nation; round 1 assigns
    * each part the MODE of its suppliers' labels, round 2 predicts
    * each supplier back from its parts' round-1 labels; ties break to
    * the smaller label so both rounds are fully deterministic. The
    * mode is `max(struct(count, −label))` — a plain aggregate with
    * map-side combine, no per-node window, so each round is one keyed
    * shuffle whose width is (nodes × distinct-labels-per-node),
    * bounded by the label vocabulary, never the edge count. The
    * distinct edge set is checkpointed once and read by both rounds
    * (the q119 lesson).
    */
  val q167LabelProp = GraftQuery(
    "q167_label_propagation",
    "2-round label propagation: does the graph agree with each seed label?",
    Some("""WITH edges AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
      seeds AS (SELECT s_suppkey AS s, s_nationkey AS lab FROM supplier),
      v1 AS (
        SELECT e.p, sd.lab, COUNT(*) AS c
        FROM edges e JOIN seeds sd ON e.s = sd.s GROUP BY 1, 2),
      p1 AS (SELECT p, lab FROM (
        SELECT p, lab, ROW_NUMBER() OVER (PARTITION BY p
          ORDER BY c DESC, lab) AS rk FROM v1) WHERE rk = 1),
      v2 AS (
        SELECT e.s, p1.lab, COUNT(*) AS c
        FROM edges e JOIN p1 ON e.p = p1.p GROUP BY 1, 2),
      p2 AS (SELECT s, lab, c FROM (
        SELECT s, lab, c, ROW_NUMBER() OVER (PARTITION BY s
          ORDER BY c DESC, lab) AS rk FROM v2) WHERE rk = 1)
      SELECT sd.s AS s_suppkey, sd.lab AS seed_label,
        p2.lab AS predicted_label, p2.c AS votes,
        CAST(CASE WHEN p2.lab = sd.lab THEN 1 ELSE 0 END AS INTEGER)
          AS agree
      FROM seeds sd LEFT JOIN p2 ON sd.s = p2.s ORDER BY 1"""),
    (s, d) => {
      // write-once GraphEdgesLayout edge set (q119's convention).
      // No checkpoint: the layout is a parquet scan, so each round's
      // re-read is a scan + projection (the checkpoint predates the
      // layout, when the edge set was a per-run distinct derivation);
      // statically known scan sizes also let the planner pick its
      // join sides without AQE guesswork.
      val edges = graft.sources.GraphEdgesLayout.supplierPart(s, d)
      val seeds = supplier(s, d)
        .select(col("s_suppkey").as("s"), col("s_nationkey").as("lab"))
      val partLabels = propagateMode(edges.join(seeds, "s"), col("p"))
        .select(col("p"), col("lab"))
      val predicted = propagateMode(edges.join(partLabels, "p"), col("s"))
      seeds.join(predicted, Seq("s"), "left")
        .select(col("s").as("s_suppkey"), seeds("lab").as("seed_label"),
          predicted("lab").as("predicted_label"), col("votes"),
          when(predicted("lab") === seeds("lab"), 1).otherwise(0)
            .as("agree"))
        .orderBy(col("s_suppkey"))
    })

  /** One propagation round: the deterministic neighbourhood mode of
    * `lab` per `node` (max count, ties to the smaller label) as a pure
    * two-level aggregate. The mode winner is selected by max over ONE
    * packed long, `(c << 32) | (2³²−1 − lab)` — the lexicographic
    * max(struct(c, −lab)) it replaces forces a SortAggregate pair per
    * round (struct buffers aren't hash-aggregable); the packed max is
    * a plain long HashAggregate with map-side combine. Encoding needs
    * labels in [0, 2³²) and per-node counts < 2³¹ — label vocabularies
    * (nation keys here) and per-node distinct-neighbor counts sit far
    * inside both at any corpus size; an input outside either fails
    * the aggregate (`raise_error`) instead of packing a wrong mode. */
  private[queries] def propagateMode(labeledEdges: org.apache.spark.sql.DataFrame,
                            node: org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    val labType = labeledEdges.schema("lab").dataType
    val mask = (1L << 32) - 1
    val packed =
      when(col("lab") < 0 || col("lab") > mask, raise_error(concat(
        lit("propagateMode: label outside [0, 2^32): "), col("lab").cast("string"))))
      .when(col("c") >= (1L << 31), raise_error(concat(
        lit("propagateMode: vote count at or above 2^31: "), col("c").cast("string"))))
      .otherwise(shiftleft(col("c"), 32) + (lit(mask) - col("lab")))
    labeledEdges
      .groupBy(node.as("n"), col("lab")).agg(count(lit(1)).as("c"))
      .groupBy(col("n"))
      .agg(max(packed).as("m"))
      .select(col("n").as(node.toString),
        (lit(mask) - col("m").bitwiseAND(lit(mask))).cast(labType).as("lab"),
        shiftright(col("m"), 32).as("votes"))
  }

  /** PageRank over any (src, dst) edge frame (every node must carry at
    * least one out-edge — true for any symmetrized graph). The degree
    * table is checkpointed and doubles as the node list (one row per
    * node by construction — no O(edges) distinct), then the weighted
    * edge table is checkpointed once, so each iteration reads it and
    * shuffles only the rank table (tiny: AQE broadcasts it into the
    * edge join at runtime). Returns (node, pr) unrounded; GraftProps
    * pins that the total mass stays 1 through iterations. */
  def pageRank(edges: org.apache.spark.sql.DataFrame, iters: Int)
      : org.apache.spark.sql.DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(false)
    val ew = edges.join(deg, "src").localCheckpoint(false)
    pageRankOn(ew, deg.select(col("src").as("node")), iters)
  }

  /** PageRank iterations over a PREBUILT weighted edge frame
    * (src, dst, outdeg) and node list — the layout-era entry (q119):
    * when degrees are stored with the edges, no aggregation, join or
    * checkpoint precedes iteration one; each round re-reads the
    * write-once edge table (a scan+project) and shuffles only the
    * rank table's partial sums. */
  def pageRankOn(ew: org.apache.spark.sql.DataFrame,
      nodes: org.apache.spark.sql.DataFrame, iters: Int)
      : org.apache.spark.sql.DataFrame = {
    val nTotal = broadcast(nodes.agg(count(lit(1)).as("cnt")))
    var pr = nodes.crossJoin(nTotal)
      .select(col("node"), (lit(1.0) / col("cnt")).as("pr"))
    for (_ <- 1 to iters) {
      pr = ew.join(pr, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("outdeg")).as("mass"))
        .crossJoin(nTotal)
        .select(col("dst").as("node"),
          (lit(0.15) / col("cnt") + lit(0.85) * col("mass")).as("pr"))
    }
    pr
  }

  /** HITS hubs & authorities over the supplier→part bipartite graph —
    * q119 PageRank's mutual-reinforcement sibling (Kleinberg 1999): a
    * supplier is a good hub if it supplies authoritative parts, a part
    * is authoritative if good hubs supply it. Two unrolled rounds with
    * L1 normalization after every half-step (sum-normalize is one
    * broadcast scalar; L2's sqrt adds nothing the ranking needs), so
    * the DuckDB oracle replays the float stream exactly; output ranks
    * on the ROUNDED score (8 dp) like q119 so a last-ulp difference
    * in the global normalizer can't reorder near-ties. Each half-step
    * is one edge-keyed join + one keyed aggregate — iteration shuffles
    * the rank table only, never re-reads the corpus (the distinct edge
    * set is checkpointed once, the q119 lesson).
    */
  val q222Hits = GraftQuery(
    "q222_hits",
    "HITS top-10 hub suppliers and authority parts (2 unrolled rounds)",
    Some("""WITH edges AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
      a1 AS (SELECT p, COUNT(*) * 1.0 AS a FROM edges GROUP BY 1),
      a1n AS (SELECT p, a / (SELECT SUM(a) FROM a1) AS a FROM a1),
      h1 AS (SELECT e.s, SUM(a1n.a) AS h FROM edges e JOIN a1n USING (p)
        GROUP BY 1),
      h1n AS (SELECT s, h / (SELECT SUM(h) FROM h1) AS h FROM h1),
      a2 AS (SELECT e.p, SUM(h1n.h) AS a FROM edges e JOIN h1n USING (s)
        GROUP BY 1),
      a2n AS (SELECT p, a / (SELECT SUM(a) FROM a2) AS a FROM a2),
      h2 AS (SELECT e.s, SUM(a2n.a) AS h FROM edges e JOIN a2n USING (p)
        GROUP BY 1),
      h2n AS (SELECT s, h / (SELECT SUM(h) FROM h2) AS h FROM h2),
      hub AS (SELECT 's' || s AS node, 'hub' AS kind,
          ROUND(h, 8) AS score
        FROM h2n ORDER BY ROUND(h, 8) DESC, s LIMIT 10),
      auth AS (SELECT 'p' || p AS node, 'authority' AS kind,
          ROUND(a, 8) AS score
        FROM a2n ORDER BY ROUND(a, 8) DESC, p LIMIT 10)
      SELECT * FROM hub UNION ALL SELECT * FROM auth
      ORDER BY kind, score DESC, node"""),
    (s, d) => {
      // write-once GraphEdgesLayout edge set (q119's convention),
      // checkpointed: read by all four half-steps. The first
      // half-step's indegree aggregate reads the stored node-degree
      // table instead (round 12).
      val edges = graft.sources.GraphEdgesLayout.supplierPart(s, d)
        .localCheckpoint(false)
      val indeg = graft.sources.GraphEdgesLayout.nodes(s, d)
        .where(col("is_s") === 0)
        .select(col("key").as("p"), col("outdeg").cast("double").as("a"))
      val (hub, auth) = hits(edges, rounds = 2, indeg = Some(indeg))
      // top-10 tie-break on the NUMERIC key, matching the oracle's
      // ORDER BY ..., s LIMIT 10 — breaking ties on the prefixed node
      // STRING instead picks a different inclusion set when rounded
      // scores tie ("s100" < "s2" lexicographically): invisible at
      // sf0.01 (scores distinct), caught by the round-10 sf0.001 sweep
      // where indegree-1 parts tie exactly
      val top10h = hub
        .orderBy(round(col("h"), 8).desc, col("s")).limit(10)
        .select(concat(lit("s"), col("s")).as("node"),
          lit("hub").as("kind"), round(col("h"), 8).as("score"))
      val top10a = auth
        .orderBy(round(col("a"), 8).desc, col("p")).limit(10)
        .select(concat(lit("p"), col("p")).as("node"),
          lit("authority").as("kind"), round(col("a"), 8).as("score"))
      top10h.unionAll(top10a)
        .orderBy(col("kind"), col("score").desc, col("node"))
    })

  /** The q222 iteration over any (s, p) edge frame: `rounds`
    * authority/hub half-step pairs with L1 normalization, starting
    * from uniform hub mass. Returns (hub frame (s, h), authority
    * frame (p, a)), both L1-normalized. AnalyticsSpec hand-traces a
    * 3-node graph. */
  def hits(edges: org.apache.spark.sql.DataFrame, rounds: Int,
      indeg: Option[org.apache.spark.sql.DataFrame] = None)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // l1 checkpoints its INPUT, not its output: the normalizer total
    // and the normalized frame are two consumers of the same half-step
    // aggregate, so the un-checkpointed form executed every half-step's
    // edge join + aggregate TWICE — once under the broadcast total,
    // once for the main pass (the q27/q89 multi-use lesson, found via
    // the round-12 job-count inventory: 17 jobs for 4 half-steps). The
    // normalized frame itself is a cheap projection of the checkpoint,
    // so consumers re-derive it for free — no output checkpoint needed.
    def l1(df: org.apache.spark.sql.DataFrame, v: String)
        : org.apache.spark.sql.DataFrame = {
      val c = df.localCheckpoint(false)
      val t = c.agg(sum(col(v)).as("__t"))
      c.crossJoin(broadcast(t)).select(col(c.columns.head),
        (col(v) / col("__t")).as(v))
    }
    // round 1 folds the uniform hub start analytically: a ∝ indegree —
    // which the degree-annotated node layout already stores (q222
    // passes it via `indeg`: a (p, a) frame, value-identical to the
    // count), so the first corpus aggregate disappears at read time
    var auth = l1(indeg.getOrElse(edges.groupBy(col("p"))
      .agg(count(lit(1)).cast("double").as("a"))), "a")
    var hub = l1(edges.join(auth, Seq("p")).groupBy(col("s"))
      .agg(sum(col("a")).as("h")), "h")
    for (_ <- 2 to rounds) {
      auth = l1(edges.join(hub, Seq("s")).groupBy(col("p"))
        .agg(sum(col("h")).as("a")), "a")
      hub = l1(edges.join(auth, Seq("p")).groupBy(col("s"))
        .agg(sum(col("a")).as("h")), "h")
    }
    (hub, auth)
  }

  /** EWMA (α=0.5) over each user's observed-day value series, closed
    * form: ewma_t = α^t·Σ(v_s/α^s) / (α^t·Σ(1/α^s)) — the recurrence
    * is not window-expressible, but the scaled cumulative sums are,
    * and BOTH engines evaluate running window sums sequentially in
    * day order, so the float stream is identical (day ranks are
    * bounded by the fixture's ~31-day span; 0.5⁻³¹ stays far inside
    * double range). One shuffle on user_id; the EWMA column is a pure
    * map over the two running sums. */
  val q121Ewma = GraftQuery(
    "q121_ewma",
    "per-user exponentially weighted moving average over daily sums",
    Some("""WITH d AS (
        SELECT user_id, CAST(ts AS DATE) AS day, SUM(value) AS v
        FROM events GROUP BY 1, 2),
      r AS (
        SELECT user_id, day, v,
          CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
            AS DOUBLE) AS rn
        FROM d),
      c AS (
        SELECT user_id, day, rn,
          SUM(v / power(0.5, rn)) OVER w AS num,
          SUM(1.0 / power(0.5, rn)) OVER w AS den
        FROM r WINDOW w AS (PARTITION BY user_id ORDER BY rn
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT user_id, day,
        ROUND(power(0.5, rn) * num / (power(0.5, rn) * den), 4) AS ewma
      FROM c ORDER BY user_id, day"""),
    (s, d) => ewmaDaily(events(s, d)).orderBy(col("user_id"), col("day")))

  /** The q121 EWMA pipeline over any (user_id, ts, value) frame —
    * GraftProps pins the convex-combination bound (min ≤ ewma ≤ max of
    * the prefix) on generated series. */
  def ewmaDaily(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val daily = ev
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("v"))
    val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val wCum = Window.partitionBy(col("user_id")).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("rn", row_number().over(byDay).cast("double"))
      .withColumn("num", sum(col("v") / pow(lit(0.5), col("rn"))).over(wCum))
      .withColumn("den", sum(lit(1.0) / pow(lit(0.5), col("rn"))).over(wCum))
      .select(col("user_id"), col("day"),
        round(pow(lit(0.5), col("rn")) * col("num") /
          (pow(lit(0.5), col("rn")) * col("den")), 4).as("ewma"))
  }

  /** Cumulative distinct users to date — the "total audience" curve.
    * COUNT(DISTINCT) OVER a running frame is unsupported (and would be
    * quadratic anyway); the linear form is first-seen-day per user →
    * per-day new-user counts → one running sum over the (broadcast-
    * sized) day series. Also emits daily actives for contrast. */
  val q122CumulativeDistinct = GraftQuery(
    "q122_cumulative_distinct",
    "daily active vs cumulative distinct users (first-seen running sum)",
    Some("""WITH f AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1),
      nu AS (SELECT d0 AS day, COUNT(*) AS new_users FROM f GROUP BY 1),
      act AS (SELECT CAST(ts AS DATE) AS day,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM events GROUP BY 1)
      SELECT act.day, act.dau,
        CAST(SUM(COALESCE(nu.new_users, 0)) OVER (ORDER BY act.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_users
      FROM act LEFT JOIN nu ON nu.day = act.day
      ORDER BY act.day"""),
    (s, d) => {
      val ev = events(s, d)
      val firstSeen = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("d0"))
      val newUsers = firstSeen.groupBy(col("d0").as("nday"))
        .agg(count(lit(1)).as("new_users"))
      val actives = ev.groupBy(to_date(col("ts")).as("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // the day series is ~weeks of rows — the single-partition running
      // sum is over a broadcast-scale frame, not the event stream
      actives.join(newUsers, col("nday") === col("day"), "left")
        .select(col("day"), col("dau"),
          sum(coalesce(col("new_users"), lit(0L))).over(w).as("cum_users"))
        .orderBy(col("day"))
    })

  /** Market-basket co-occurrence: part pairs bought together in one
    * order, counted corpus-wide — the association-mining primitive.
    * The self-join is WITHIN the order key (pair fan-out is
    * per-order-lines², bounded by basket size, never corpus²) and
    * `<` de-duplicates unordered pairs at the join, not after. Top-20
    * by (count, pair) ships as TakeOrdered partials. */
  val q123CoPurchase = GraftQuery(
    "q123_copurchase_pairs",
    "top-20 part pairs co-purchased in the same order",
    Some("""SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        COUNT(*) AS n_orders
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      ORDER BY n_orders DESC, part_a, part_b LIMIT 20"""),
    (s, d) => {
      val a = lineitem(s, d).select(col("l_orderkey"),
        col("l_partkey").as("part_a"))
      val b = lineitem(s, d).select(col("l_orderkey").as("ok_b"),
        col("l_partkey").as("part_b"))
      a.join(b, col("l_orderkey") === col("ok_b") &&
          col("part_a") < col("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(20)
    })

  /** A/B experiment readout: deterministic arm assignment (user_id
    * parity — at 100 TB a hash bucket, same shape) and a Welch
    * t-statistic per event_type from one conditional aggregate — the
    * two-sample comparison as a single shuffle, no per-arm scans.
    * var_samp is numerically stable on both engines; the statistic is
    * rounded to absorb last-ulp differences. */
  val q124AbTest = GraftQuery(
    "q124_ab_ttest",
    "Welch t-statistic per event_type for a hash-assigned A/B split",
    Some("""WITH e AS (
        SELECT event_type, value, user_id % 2 AS arm FROM events),
      s AS (
        SELECT event_type,
          COUNT(CASE WHEN arm = 0 THEN 1 END) AS n_a,
          COUNT(CASE WHEN arm = 1 THEN 1 END) AS n_b,
          AVG(CASE WHEN arm = 0 THEN value END) AS m_a,
          AVG(CASE WHEN arm = 1 THEN value END) AS m_b,
          var_samp(CASE WHEN arm = 0 THEN value END) AS v_a,
          var_samp(CASE WHEN arm = 1 THEN value END) AS v_b
        FROM e GROUP BY 1)
      SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
        CAST(n_b AS BIGINT) AS n_b,
        ROUND(m_a - m_b, 4) AS mean_diff,
        ROUND((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 4) AS t_welch
      FROM s ORDER BY 1"""),
    (s, d) => {
      val arm = col("user_id") % 2
      events(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(when(arm === 0, 1)).as("n_a"),
          count(when(arm === 1, 1)).as("n_b"),
          avg(when(arm === 0, col("value"))).as("m_a"),
          avg(when(arm === 1, col("value"))).as("m_b"),
          var_samp(when(arm === 0, col("value"))).as("v_a"),
          var_samp(when(arm === 1, col("value"))).as("v_b"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          round(col("m_a") - col("m_b"), 4).as("mean_diff"),
          round((col("m_a") - col("m_b")) /
            sqrt(col("v_a") / col("n_a") + col("v_b") / col("n_b")), 4)
            .as("t_welch"))
        .orderBy(col("event_type"))
    })

  /** Distribution-drift monitor: χ² statistic of each source's
    * language mix against the corpus-wide mix — the pipeline-health
    * check that flags a crawler segment gone off-language. Corpus
    * shares are a broadcast-sized aggregate joined back; one shuffle
    * on (source, lang), χ² is a per-source fold. */
  val q125ChiSquareDrift = GraftQuery(
    "q125_chi2_drift",
    "chi-square drift of per-source language mix vs the corpus mix",
    Some("""WITH sl AS (
        SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2),
      st AS (SELECT source, SUM(n) AS n_src FROM sl GROUP BY 1),
      lt AS (SELECT lang, SUM(n) AS n_lang FROM sl GROUP BY 1),
      tot AS (SELECT SUM(n) AS n_all FROM sl),
      x AS (
        SELECT st.source, lt.lang,
          COALESCE(sl.n, 0) AS obs,
          st.n_src * lt.n_lang * 1.0 / tot.n_all AS exp
        FROM st CROSS JOIN lt CROSS JOIN tot
        LEFT JOIN sl ON sl.source = st.source AND sl.lang = lt.lang)
      SELECT source,
        ROUND(SUM((obs - exp) * (obs - exp) / exp), 4) AS chi2,
        CAST(SUM(obs) AS BIGINT) AS n_docs
      FROM x GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val sl = documents(s, d).groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      val st = sl.groupBy(col("source")).agg(sum(col("n")).as("n_src"))
      val lt = sl.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
      val tot = sl.agg(sum(col("n")).as("n_all"))
      st.crossJoin(broadcast(lt)).crossJoin(broadcast(tot))
        .join(sl, Seq("source", "lang"), "left")
        .select(col("source"),
          coalesce(col("n"), lit(0L)).as("obs"),
          (col("n_src") * col("n_lang") * lit(1.0) / col("n_all")).as("exp"))
        .groupBy(col("source"))
        .agg(round(sum((col("obs") - col("exp")) * (col("obs") - col("exp"))
          / col("exp")), 4).as("chi2"),
          sum(col("obs")).cast("long").as("n_docs"))
        .orderBy(col("source"))
    })

  /** Column profiling — the first query anyone runs on unknown data:
    * per-column null count, distinct count, and min/max (string-cast
    * so heterogeneous columns stack into one frame). Each column's
    * profile is one aggregate over the shared scan; the union is a
    * plan-level concat of 1-row frames. */
  val q126Profile = GraftQuery(
    "q126_column_profile",
    "per-column null/distinct/min/max profile of orders",
    Some("""SELECT 'o_orderdate' AS col_name,
        CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT) AS n_nulls,
        CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_distinct,
        CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_s,
        CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_s
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority',
        CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
        CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
        MIN(o_orderpriority), MAX(o_orderpriority) FROM orders
      UNION ALL
      SELECT 'o_totalprice',
        CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
        CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
        CAST(ROUND(MIN(o_totalprice), 2) AS VARCHAR),
        CAST(ROUND(MAX(o_totalprice), 2) AS VARCHAR) FROM orders
      ORDER BY 1"""),
    (s, d) => {
      val o = orders(s, d)
      // n_nulls/n_distinct profile the RAW column (the oracle does too);
      // the round/date cast is display-only, applied inside min/max.
      def prof(name: String, raw: org.apache.spark.sql.Column,
               show: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        o.agg((count(lit(1)) - count(raw)).as("n_nulls"),
          countDistinct(raw).as("n_distinct"),
          show(min(raw)).cast("string").as("min_s"),
          show(max(raw)).cast("string").as("max_s"))
          .select(lit(name).as("col_name"), col("n_nulls"),
            col("n_distinct"), col("min_s"), col("max_s"))
      prof("o_orderdate", col("o_orderdate"), _.cast("date"))
        .unionAll(prof("o_orderpriority", col("o_orderpriority"), identity))
        .unionAll(prof("o_totalprice", col("o_totalprice"), round(_, 2)))
        .orderBy(col("col_name"))
    })

  /** The ML surface's first ORACLE-checked number (round-5 verdict
    * item #5): a forecasting backtest through the REAL
    * [[graft.ml.Forecast.horizonEnsemble]] (M13) + MSE eval (M10)
    * path. The two horizon "models" are frozen deterministic
    * predictors — naive last-value (lag 1) and a 7-day moving average
    * — so, unlike the seeded GBT/RF fits, every number survives an
    * independent DuckDB replay: the ensemble average, the per-key MSE
    * and MAE. Both engines evaluate the row-frame windows in day
    * order, so the float streams match (q121's precedent). Plan: one
    * shuffle on event_type for the daily series; windows, the
    * ensemble join, and the final aggregate all reuse that
    * partitioning; the backtest drops the first 7 days per key (warm-
    * up for the full moving-average frame).
    */
  val q145ForecastBacktest = GraftQuery(
    "q145_forecast_backtest",
    "horizon-ensemble (naive + moving-avg) backtest MSE/MAE per event type",
    Some("""WITH series AS (
        SELECT event_type AS key, CAST(ts AS DATE) AS ds,
          CAST(COUNT(*) AS DOUBLE) AS y
        FROM events GROUP BY 1, 2),
      f AS (
        SELECT key, ds, y,
          ROW_NUMBER() OVER w AS rn,
          LAG(y, 1) OVER w AS p1,
          AVG(y) OVER (PARTITION BY key ORDER BY ds
            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS p2
        FROM series
        WINDOW w AS (PARTITION BY key ORDER BY ds)),
      e AS (
        SELECT key, ds, y AS actual, (p1 + p2) / 2 AS yhat
        FROM f WHERE rn > 7)
      SELECT key, COUNT(*) AS n_days,
        ROUND(AVG((yhat - actual) * (yhat - actual)), 4) AS mse,
        ROUND(AVG(ABS(yhat - actual)), 4) AS mae
      FROM e GROUP BY key ORDER BY key"""),
    (s, d) => forecastBacktestPoints(events(s, d))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_days"),
        round(avg((col("yhat") - col("actual")) * (col("yhat") - col("actual"))), 4)
          .as("mse"),
        round(avg(abs(col("yhat") - col("actual"))), 4).as("mae"))
      .orderBy(col("key")))

  /** The q145 per-day frame — (key, ds, actual, yhat) for every
    * backtested day — shared by the catalog aggregate above and
    * BacktestStreamSpec's batch==stream pin (the holtDaily
    * extraction precedent). */
  def forecastBacktestPoints(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("ds"))
    val feats = ev
      .groupBy(col("event_type").as("key"), to_date(col("ts")).as("ds"))
      .agg(count(lit(1)).cast("double").as("y"))
      .withColumn("rn", row_number().over(w))
      .withColumn("p1", lag(col("y"), 1).over(w))
      .withColumn("p2", avg(col("y")).over(w.rowsBetween(-7, -1)))
      .where(col("rn") > 7)
      // feeds the two model frames AND the actuals join below
      .localCheckpoint(false)
    graft.ml.Forecast.horizonEnsemble(
        feats.select(col("key"), col("ds"), col("p1").as("y")),
        feats.select(col("key"), col("ds"), col("p2").as("y")))
      .join(feats.select(col("key"), col("ds"), col("y").as("actual")),
        Seq("key", "ds"))
      .select(col("key"), col("ds"), col("actual"), col("y").as("yhat"))
  }

  /** The SECOND oracle-checked ML-deterministic slice (round-5 verdict
    * #6, q145's precedent): the M11 KNN cosine recommender's full
    * scoring + exclusion path through the REAL
    * [[graft.ml.Recommend.knnRecommend]] code — user–user cosine over
    * shared items, top-5 neighbors (sim DESC, id ASC tie-break),
    * candidate scores Σ(sim × neighbor rating), already-read left-anti
    * exclusion, top-3 by score (ref 豆瓣图书推荐.md:8-21). The ratings
    * matrix is a deterministic fixture derivation (order-line
    * quantities folded onto a 60-user × 40-item grid, arithmetically
    * sparsified to ~40% so the exclusion path has work), so every score
    * survives an independent DuckDB replay — unlike the ALS/GBT fits,
    * nothing here is seeded or iterative. Plan: the shared-item
    * self-join runs on the ~30-user aggregate (the reference's own
    * core-slice regime); all windows partition by user.
    */
  val q161KnnRecommend = GraftQuery(
    "q161_knn_recommend",
    "KNN cosine recommender: top-3 unread items per user (M11 path, oracle-checked)",
    Some("""WITH cells AS (
        SELECT o_custkey % 60 AS usr, l_partkey % 40 AS item, l_quantity
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      ratings AS (
        SELECT usr, item, ROUND(AVG(l_quantity), 2) AS rating
        FROM cells
        WHERE substr(md5(CAST(usr AS VARCHAR) || '_' ||
          CAST(item AS VARCHAR)), 1, 1) <= '5'
        GROUP BY 1, 2),
      norms AS (
        SELECT usr, sqrt(SUM(rating * rating)) AS nrm FROM ratings GROUP BY 1),
      sims AS (
        SELECT a.usr AS u, b.usr AS v, SUM(a.rating * b.rating) AS dot
        FROM ratings a JOIN ratings b ON a.item = b.item AND a.usr <> b.usr
        GROUP BY 1, 2),
      nb AS (
        SELECT s.u, s.v, s.dot / (nu.nrm * nv.nrm) AS sim,
          ROW_NUMBER() OVER (PARTITION BY s.u
            ORDER BY s.dot / (nu.nrm * nv.nrm) DESC, s.v) AS rk
        FROM sims s
        JOIN norms nu ON nu.usr = s.u
        JOIN norms nv ON nv.usr = s.v),
      cand AS (
        SELECT nb.u, r.item, SUM(nb.sim * r.rating) AS score
        FROM nb JOIN ratings r ON r.usr = nb.v
        WHERE nb.rk <= 5
        GROUP BY 1, 2),
      unread AS (
        SELECT c.u, c.item, c.score FROM cand c
        WHERE NOT EXISTS (
          SELECT 1 FROM ratings r WHERE r.usr = c.u AND r.item = c.item)),
      top AS (
        SELECT u, item, score,
          ROW_NUMBER() OVER (PARTITION BY u ORDER BY score DESC, item) AS rk
        FROM unread)
      SELECT u AS "user", item, ROUND(score, 4) AS score,
        CAST(rk AS INTEGER) AS rk
      FROM top WHERE rk <= 3 ORDER BY 1, 4"""),
    (s, d) => {
      val ratings = orders(s, d)
        .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") % 60).as("user"),
          (col("l_partkey") % 40).as("item"), col("l_quantity"))
        // deterministic ~37% sparsifier (portable md5, the q133 hash-
        // order precedent — an ARITHMETIC residue pattern would align
        // user classes to identical item sets and starve the unread
        // anti-join): a fully-dense grid leaves nothing to recommend
        .filter(substring(md5(concat(col("user").cast("string"), lit("_"),
          col("item").cast("string"))), 1, 1) <= "5")
        .groupBy(col("user"), col("item"))
        .agg(round(avg(col("l_quantity")), 2).as("rating"))
      graft.ml.Recommend.knnRecommend(ratings, k = 5, topNItems = 3)
        .orderBy(col("user"), col("rk"))
    })

  /** Association rules over order baskets — support / confidence both
    * directions / lift, the full market-basket readout q123's raw
    * counts feed. Derived from DISTINCT (order, part) pairs, NOT the
    * CopurchaseLayout: the layout counts lineitem-level pair
    * instances (a part twice in one order double-counts), while rule
    * semantics are set-of-orders — the 55-duplicate delta in this
    * fixture would silently inflate support. Marginals (orders per
    * part) join broadcast-sized onto the pair counts; the order total
    * attaches as a 1-row scalar. Per-order fan-out is basket-bounded,
    * the q123 argument.
    */
  val q199AssociationRules = GraftQuery(
    "q199_association_rules",
    "support/confidence/lift for co-purchased part pairs (min support 2)",
    Some("""WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM op),
      pc AS (SELECT p, COUNT(*) AS po FROM op GROUP BY 1),
      pairs AS (
        SELECT a.p AS u, b.p AS v, COUNT(*) AS c
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      SELECT u, v, CAST(c AS BIGINT) AS n_both,
        CAST(ROUND(CAST(CAST(c * 1.0 / n_orders AS VARCHAR)
          AS DECIMAL(38,18)), 6) AS DOUBLE) AS support,
        CAST(ROUND(CAST(CAST(c * 1.0 / pu.po AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS conf_uv,
        CAST(ROUND(CAST(CAST(c * 1.0 / pv.po AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS conf_vu,
        CAST(ROUND(CAST(CAST(c * 1.0 * n_orders / (pu.po * pv.po) AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS lift
      FROM pairs JOIN pc pu ON pu.p = u JOIN pc pv ON pv.p = v, n
      ORDER BY 1, 2"""),
    (s, d) => {
      val op = lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
        .localCheckpoint(false) // marginals, order total, both pair sides
      val n = op.select(col("o")).distinct().agg(count(lit(1)).as("n_orders"))
      val pc = op.groupBy(col("p")).agg(count(lit(1)).as("po"))
      val pairs = op.toDF("o", "u")
        .join(op.toDF("o", "v"), Seq("o")).where(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
        .where(col("c") >= 2)
      pairs
        .join(pc.toDF("u", "po_u"), Seq("u"))
        .join(pc.toDF("v", "po_v"), Seq("v"))
        .crossJoin(broadcast(n))
        .select(col("u"), col("v"), col("c").as("n_both"),
          round(col("c") / col("n_orders"), 6).as("support"),
          round(col("c") / col("po_u"), 4).as("conf_uv"),
          round(col("c") / col("po_v"), 4).as("conf_vu"),
          round(col("c") * col("n_orders") / (col("po_u") * col("po_v")), 4)
            .as("lift"))
        .orderBy(col("u"), col("v"))
    })

  /** Neyman-optimal stratified sampling allocation — the survey-
    * sampling primitive behind variance-minimal corpus subsampling
    * (which stratum deserves how much of a fixed labeling/eval
    * budget): n_h ∝ N_h·S_h. Stratum stats are one shuffle; the
    * stratum TABLE is catalog-bounded (event types / sources / shards
    * — never corpus rows), so the scalar total attaches as a 1-row
    * broadcast and the largest-remainder integerization ranks peers
    * via a broadcast non-equi self-count (BroadcastNestedLoopJoin on
    * k² bounded rows) instead of a global window — the q34/q159
    * discipline. Integer allocations sum exactly to the budget by
    * construction.
    */
  val q189NeymanAlloc = GraftQuery(
    "q189_neyman_alloc",
    "Neyman stratified-sampling allocation of a 1000-sample budget",
    Some("""WITH st AS (
        SELECT event_type, COUNT(*) AS nh, STDDEV_SAMP(value) AS sh
        FROM events GROUP BY 1),
      t AS (SELECT SUM(nh * sh) AS tot FROM st),
      ex AS (
        SELECT event_type, nh, sh, 1000 * nh * sh / tot AS ex,
          FLOOR(1000 * nh * sh / tot) AS base
        FROM st, t),
      lo AS (SELECT 1000 - SUM(base) AS leftover FROM ex),
      pos AS (
        SELECT a.event_type, COUNT(b.event_type) AS p
        FROM ex a LEFT JOIN ex b ON
          (b.ex - b.base > a.ex - a.base) OR
          (b.ex - b.base = a.ex - a.base AND b.event_type < a.event_type)
        GROUP BY 1)
      SELECT a.event_type, CAST(a.nh AS BIGINT) AS n_h,
        ROUND(a.sh, 4) AS s_h, ROUND(a.ex, 4) AS alloc_frac,
        CAST(a.base + CASE WHEN pos.p < lo.leftover THEN 1 ELSE 0 END
          AS BIGINT) AS alloc
      FROM ex a JOIN pos USING (event_type), lo ORDER BY 1"""),
    (s, d) => {
      val st = events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("nh"), stddev_samp(col("value")).as("sh"))
      val tot = st.agg(sum(col("nh") * col("sh")).as("tot"))
      val ex = st.crossJoin(broadcast(tot))
        .select(col("event_type"), col("nh"), col("sh"),
          (lit(1000) * col("nh") * col("sh") / col("tot")).as("ex"))
        .withColumn("base", floor(col("ex")))
        .localCheckpoint(false) // feeds leftover, both rank sides, output
      val leftover = ex.agg((lit(1000) - sum(col("base"))).as("leftover"))
      val peers = ex.select(col("event_type").as("pe"),
        (col("ex") - col("base")).as("prem"))
      val rem = col("ex") - col("base")
      val pos = ex.join(broadcast(peers),
          col("prem") > rem ||
            (col("prem") === rem && col("pe") < col("event_type")), "left")
        .groupBy(col("event_type")).agg(count(col("pe")).as("p"))
      ex.join(pos, Seq("event_type")).crossJoin(broadcast(leftover))
        .select(col("event_type"), col("nh").as("n_h"),
          round(col("sh"), 4).as("s_h"),
          round(col("ex"), 4).as("alloc_frac"),
          (col("base") +
            when(col("p") < col("leftover"), 1).otherwise(0))
            .cast("long").as("alloc"))
        .orderBy(col("event_type"))
    })

  /** Two-sample Kolmogorov–Smirnov statistic per event_type for the
    * q124 hash-assigned A/B split — the NONPARAMETRIC companion to
    * q124's Welch t (detects distribution-shape drift a mean test
    * misses; the drift-family sibling of q125's categorical χ²). Both
    * ECDFs come from ONE conditional aggregate over (event_type,
    * value) and one cumulative window PARTITIONED by event_type (the
    * per-stratum sort — never a global funnel); D = max |F₀−F₁| is
    * exact because the cumulative counts are integers and IEEE
    * division is deterministic across engines.
    */
  val q192KsTest = GraftQuery(
    "q192_ks_test",
    "two-sample KS statistic per event_type for the hash A/B split",
    Some("""WITH e AS (
        SELECT event_type, value, user_id % 2 AS arm FROM events),
      c AS (
        SELECT event_type, value,
          COUNT(CASE WHEN arm = 0 THEN 1 END) AS c0,
          COUNT(CASE WHEN arm = 1 THEN 1 END) AS c1
        FROM e GROUP BY 1, 2),
      n AS (
        SELECT event_type, SUM(c0) AS n0, SUM(c1) AS n1
        FROM c GROUP BY 1),
      f AS (
        SELECT c.event_type,
          SUM(c0) OVER (PARTITION BY c.event_type ORDER BY value
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / n0
          - SUM(c1) OVER (PARTITION BY c.event_type ORDER BY value
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / n1
            AS diff,
          n0, n1
        FROM c JOIN n USING (event_type))
      SELECT event_type, CAST(MAX(n0) AS BIGINT) AS n0,
        CAST(MAX(n1) AS BIGINT) AS n1,
        ROUND(MAX(ABS(diff)), 4) AS ks_d,
        ROUND(SQRT(MAX(n0) * MAX(n1) / (MAX(n0) + MAX(n1) * 1.0))
          * MAX(ABS(diff)), 4) AS ks_stat
      FROM f GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val arm = col("user_id") % 2
      val c = events(s, d)
        .groupBy(col("event_type"), col("value"))
        .agg(count(when(arm === 0, 1)).as("c0"),
          count(when(arm === 1, 1)).as("c1"))
      val n = c.groupBy(col("event_type"))
        .agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      c.join(broadcast(n), Seq("event_type"))
        .withColumn("diff",
          sum(col("c0")).over(w) * lit(1.0) / col("n0") -
            sum(col("c1")).over(w) * lit(1.0) / col("n1"))
        .groupBy(col("event_type"))
        .agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
          max(abs(col("diff"))).as("d"))
        .select(col("event_type"), col("n0"), col("n1"),
          round(col("d"), 4).as("ks_d"),
          round(sqrt(col("n0") * col("n1") /
            (col("n0") + col("n1") * lit(1.0))) * col("d"), 4).as("ks_stat"))
        .orderBy(col("event_type"))
    })

  /** Per-user inter-arrival burstiness — the point-process triage
    * signal (bots are periodic, humans bursty; feeds the q90-style
    * gates for behavioral data). Gaps come from one lag window
    * PARTITIONED by user over exact integer microseconds (epoch_us on
    * both engines — the Tables.events timestamp discipline), so the
    * only FP is the final moments. Burstiness B = (σ−μ)/(σ+μ)
    * (Goh–Barabási): −1 periodic, 0 Poisson, →1 bursty. One shuffle
    * on user_id; output is per-user with ≥3 events (≥2 gaps, so the
    * sample σ exists).
    */
  val q194Interarrival = GraftQuery(
    "q194_interarrival",
    "per-user inter-arrival mean/CV/burstiness from event timestamps",
    Some("""WITH g AS (
        SELECT user_id,
          (epoch_us(ts) - lag(epoch_us(ts)) OVER (
            PARTITION BY user_id ORDER BY ts, event_id)) / 1e6 AS gap
        FROM events),
      s AS (
        SELECT user_id, COUNT(gap) AS n_gaps,
          AVG(gap) AS mu, STDDEV_SAMP(gap) AS sigma
        FROM g WHERE gap IS NOT NULL GROUP BY 1)
      SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
        ROUND(mu, 4) AS mean_gap_s,
        ROUND(sigma / mu, 4) AS cv,
        ROUND((sigma - mu) / (sigma + mu), 4) AS burstiness
      FROM s WHERE n_gaps >= 2 ORDER BY 1"""),
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val g = events(s, d)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("gap", (col("us") - lag(col("us"), 1).over(w)) / lit(1e6))
        .where(col("gap").isNotNull)
      g.groupBy(col("user_id"))
        .agg(count(col("gap")).as("n_gaps"), avg(col("gap")).as("mu"),
          stddev_samp(col("gap")).as("sigma"))
        .where(col("n_gaps") >= 2)
        .select(col("user_id"), col("n_gaps"),
          round(col("mu"), 4).as("mean_gap_s"),
          round(col("sigma") / col("mu"), 4).as("cv"),
          round((col("sigma") - col("mu")) / (col("sigma") + col("mu")), 4)
            .as("burstiness"))
        .orderBy(col("user_id"))
    })

  /** Top-20 session event paths — the sequence-pattern-mining
    * primitive (which journeys actually happen; feeds funnel design,
    * q86). Sessions are the q37 convention (>4 h gap, per user); each
    * session's path is built by collect_list of (sec, event_id, type)
    * structs + array_sort + transform — all codegen'd builtins, the
    * ordered-list-agg shape of q78, never a per-session re-window.
    * Path cardinality is bounded by session length (the data's own
    * size); the final top-20 ships as TakeOrdered partials.
    */
  val q195EventPaths = GraftQuery(
    "q195_event_paths",
    "top-20 per-session event-type paths under 4h-gap sessionization",
    Some("""WITH ordered AS (
        SELECT user_id, event_id, event_type,
          CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        FROM events),
      flagged AS (
        SELECT user_id, event_id, event_type, sec,
          CASE WHEN LAG(sec) OVER w IS NULL
                 OR sec - LAG(sec) OVER w > 14400 THEN 1 ELSE 0 END AS is_new
        FROM ordered
        WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)),
      sessioned AS (
        SELECT user_id, event_type, sec, event_id,
          CAST(SUM(is_new) OVER (PARTITION BY user_id
            ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS session_id
        FROM flagged),
      paths AS (
        SELECT user_id, session_id,
          string_agg(event_type, '->' ORDER BY sec, event_id) AS path
        FROM sessioned GROUP BY 1, 2)
      SELECT path, COUNT(*) AS n_sessions
      FROM paths GROUP BY 1
      ORDER BY n_sessions DESC, path LIMIT 20"""),
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("sec"), col("event_id"))
      val sessioned = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("sec"))
        .withColumn("is_new",
          when(lag(col("sec"), 1).over(w).isNull ||
            col("sec") - lag(col("sec"), 1).over(w) > 14400, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sessioned
        .groupBy(col("user_id"), col("session_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("sec"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), "->").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path")).limit(20)
    })

  /** First-order Markov transition matrix over event types — the
    * behavioral-model readout (what follows what; the stochastic twin
    * of q195's literal paths). Consecutive pairs come from one lag
    * window per user ordered by (sec, event_id) — transitions never
    * cross users — and the row normalization is a second tiny
    * aggregate over the TYPE×TYPE matrix (catalog-bounded), joined
    * back broadcast-sized.
    */
  val q196MarkovTransitions = GraftQuery(
    "q196_markov_transitions",
    "event-type transition counts + row-normalized probabilities",
    Some("""WITH ordered AS (
        SELECT user_id, event_id, event_type,
          CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        FROM events),
      pairs AS (
        SELECT LAG(event_type) OVER (PARTITION BY user_id
            ORDER BY sec, event_id) AS from_type,
          event_type AS to_type
        FROM ordered),
      tc AS (
        SELECT from_type, to_type, COUNT(*) AS c
        FROM pairs WHERE from_type IS NOT NULL GROUP BY 1, 2),
      rowsum AS (SELECT from_type, SUM(c) AS n FROM tc GROUP BY 1)
      SELECT tc.from_type, to_type, CAST(c AS BIGINT) AS c,
        CAST(ROUND(CAST(CAST(c * 1.0 / n AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS p
      FROM tc JOIN rowsum USING (from_type) ORDER BY 1, 2"""),
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("sec"), col("event_id"))
      val tc = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("sec"))
        .withColumn("from_type", lag(col("event_type"), 1).over(w))
        .where(col("from_type").isNotNull)
        .groupBy(col("from_type"), col("event_type").as("to_type"))
        .agg(count(lit(1)).as("c"))
      val rowsum = tc.groupBy(col("from_type")).agg(sum(col("c")).as("n"))
      tc.join(broadcast(rowsum), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("c"),
          round(col("c") / col("n"), 4).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    })

  /** CUSUM changepoint detection on the per-type daily series — the
    * sequential control chart (S_t = max(0, S_{t-1} + z_t − k), alarm
    * at S_t > h) that catches slow drifts the point tests (q124/q192)
    * miss. The clamp makes the recurrence non-linearizable (the q121
    * EWMA power trick doesn't apply), so each type's ordered day
    * series folds through ONE codegen'd `aggregate` lambda over a
    * collected array — legal because the series is days-per-type
    * (calendar-bounded, the q122 argument), never event rows; the
    * heavy lifting (daily sums, the two-pass standardization) stays
    * distributed. Both engines run the identical sequential float
    * recurrence, so the 4dp round absorbs only the distributed-mean
    * dust in z.
    */
  val q201Cusum = GraftQuery(
    "q201_cusum",
    "CUSUM control chart (k=0.5, h=4) over standardized daily sums",
    Some("""WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds, SUM(value) AS v
        FROM events GROUP BY 1, 2),
      st AS (
        SELECT event_type, AVG(v) AS mu, STDDEV_SAMP(v) AS sd
        FROM daily GROUP BY 1),
      z AS (
        SELECT daily.event_type, ds, (v - mu) / sd AS z,
          ROW_NUMBER() OVER (PARTITION BY daily.event_type ORDER BY ds)
            AS rn
        FROM daily JOIN st ON daily.event_type = st.event_type),
      c AS (
        SELECT event_type, ds, rn, GREATEST(0, z - 0.5) AS s
        FROM z WHERE rn = 1
        UNION ALL
        SELECT z.event_type, z.ds, z.rn,
          GREATEST(0, c.s + z.z - 0.5)
        FROM z JOIN c ON z.event_type = c.event_type
          AND z.rn = c.rn + 1)
      SELECT event_type, ds, ROUND(s, 4) AS cusum,
        CAST(CASE WHEN s > 4 THEN 1 ELSE 0 END AS INTEGER) AS alarm
      FROM c ORDER BY 1, 2"""),
    (s, d) => cusumDaily(events(s, d))
      .orderBy(col("event_type"), col("ds")))

  /** The q201 pipeline over any (event_type, ts, value) frame —
    * AnalyticsSpec pins the alarm behavior the stationary fixture
    * can't show (a planted level shift must trip it). */
  def cusumDaily(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
        .agg(sum(col("value")).as("v"))
      val st = daily.groupBy(col("event_type"))
        .agg(avg(col("v")).as("mu"), stddev_samp(col("v")).as("sd"))
      daily.join(broadcast(st), Seq("event_type"))
        .select(col("event_type"),
          struct(col("ds"), ((col("v") - col("mu")) / col("sd")).as("z"))
            .as("e"))
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(col("e"))).as("series"))
        .withColumn("run", expr(
          """aggregate(series,
               cast(array() as array<struct<ds:date, s:double>>),
               (acc, e) -> array_append(acc, named_struct(
                 'ds', e.ds,
                 's', greatest(cast(0.0 as double),
                   if(size(acc) = 0, cast(0.0 as double),
                      acc[size(acc) - 1].s) + e.z - 0.5d))))"""))
        .select(col("event_type"), explode(col("run")).as("r"))
        .select(col("event_type"), col("r.ds").as("ds"),
          round(col("r.s"), 4).as("cusum"),
          (col("r.s") > 4.0).cast("int").as("alarm"))
  }

  /** Weekly seasonal decomposition of the daily event-value series —
    * the STL-lite every ops/forecast pipeline runs before modeling
    * (M12's autoregression assumes a deseasonalized input; this is
    * the op that produces one). Daily totals are one shuffle on
    * (event_type, day); the seasonal profile is a second aggregate
    * over the DAY table (weeks × types rows, never events), joined
    * back broadcast-sized. Residual = observed − day-of-week mean.
    */
  val q190SeasonalDecompose = GraftQuery(
    "q190_seasonal_decompose",
    "day-of-week seasonal means + residuals for daily event values",
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds, SUM(value) AS v
        FROM events GROUP BY 1, 2),
      seas AS (
        SELECT event_type, dayofweek(ds) + 1 AS dow, AVG(v) AS s
        FROM daily GROUP BY 1, 2)
      SELECT daily.event_type, ds, dayofweek(ds) + 1 AS dow,
        ROUND(v, 4) AS v, ROUND(s, 4) AS seasonal,
        ROUND(v - s, 4) AS residual
      FROM daily JOIN seas
        ON daily.event_type = seas.event_type
        AND dayofweek(ds) + 1 = seas.dow
      ORDER BY 1, 2"""),
    (s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
        .agg(sum(col("value")).as("v"))
      val seas = daily
        .groupBy(col("event_type"), dayofweek(col("ds")).as("dow"))
        .agg(avg(col("v")).as("s"))
      daily.withColumn("dow", dayofweek(col("ds")))
        .join(seas, Seq("event_type", "dow"))
        .select(col("event_type"), col("ds"), col("dow"),
          round(col("v"), 4).as("v"), round(col("s"), 4).as("seasonal"),
          round(col("v") - col("s"), 4).as("residual"))
        .orderBy(col("event_type"), col("ds"))
    })

  /** Spearman rank correlation (tied midranks) per group — the
    * monotonic-association test q124/q192's parametric family can't
    * give (Pearson on raw values is linear-only and outlier-fragile;
    * Spearman is Pearson on RANKS). The classic distributed trap is
    * ranking: a per-group window over corpus rows serializes each
    * group through one task. This plan never ranks rows — both
    * variables are low-cardinality, so midranks live on the VALUE
    * DISTRIBUTION (the q34 rank-map shape): a per-(group, value)
    * count, a cumulative sum over ≤|distinct values| rows per group,
    * midrank = cnt_less + (c+1)/2, broadcast back, and `corr` of the
    * two rank columns per group. At any corpus size the ranked table
    * is the distribution, never the data.
    */
  val q205Spearman = GraftQuery(
    "q205_spearman",
    "Spearman rho (tied midranks) of quantity vs discount per returnflag",
    Some("""WITH t AS (
        SELECT l_returnflag AS flag, l_quantity AS q, l_discount AS dc
        FROM lineitem),
      r AS (
        SELECT flag,
          RANK() OVER (PARTITION BY flag ORDER BY q)
            + (COUNT(*) OVER (PARTITION BY flag, q) - 1) / 2.0 AS rq,
          RANK() OVER (PARTITION BY flag ORDER BY dc)
            + (COUNT(*) OVER (PARTITION BY flag, dc) - 1) / 2.0 AS rd
        FROM t)
      SELECT flag AS l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        ROUND(corr(rq, rd), 4) AS rho
      FROM r GROUP BY 1 ORDER BY 1"""),
    (s, d) => spearman(lineitem(s, d).select(col("l_returnflag").as("flag"),
      col("l_quantity").as("q"), col("l_discount").as("dc")))
      .orderBy(col("l_returnflag")))

  /** The q205 plan over any (flag, q, dc) frame — AnalyticsSpec pins
    * hand values (perfect monotone → 1, anti-monotone → −1, and a
    * tied case against the textbook tied-rank formula). */
  def spearman(in: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // midranks on the (flag, value) distribution: the window runs
    // over <= |distinct values| rows per flag, never corpus rows
    def rankMap(vcol: String, out: String) = {
      val w = Window.partitionBy(col("flag")).orderBy(col("v"))
      in.groupBy(col("flag"), col(vcol).as("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        .select(col("flag"), col("v").as(vcol),
          (col("cum") - col("c") + (col("c") + 1) / lit(2.0)).as(out))
    }
    in.join(broadcast(rankMap("q", "rq")), Seq("flag", "q"))
      .join(broadcast(rankMap("dc", "rd")), Seq("flag", "dc"))
      .groupBy(col("flag").as("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(corr(col("rq"), col("rd")), 4).as("rho"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) with tie correction — the
    * nonparametric two-sample test next to q124's Welch t (which
    * assumes normal-ish means; U compares whole distributions).
    * Everything runs on the pooled VALUE DISTRIBUTION (the q205
    * argument): midranks and per-group masses per distinct value, so
    * R₁ = Σ cₐ(v)·midrank(v) is an aggregate over ≤|distinct values|
    * rows — the corpus is touched by exactly one groupBy. The one
    * ordered sweep (cumulative count) runs over that distribution,
    * registered calendar-style in `QueriesSpec.boundedGlobalWindow`.
    * z uses the tie-corrected variance n₁n₂/12·((N+1) − Σ(t³−t)/(N(N−1))).
    */
  val q206MannWhitney = GraftQuery(
    "q206_mann_whitney",
    "tie-corrected Mann-Whitney U + z for quantity, returnflag A vs R",
    Some("""WITH t AS (
        SELECT l_quantity AS v, l_returnflag AS f FROM lineitem
        WHERE l_returnflag IN ('A', 'R')),
      d AS (
        SELECT v, COUNT(*) AS c,
          SUM(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS ca
        FROM t GROUP BY 1),
      r AS (
        SELECT v, c, ca,
          SUM(c) OVER (ORDER BY v) - c + (c + 1) / 2.0 AS mr
        FROM d),
      s AS (
        SELECT SUM(ca) AS n1, SUM(c - ca) AS n2, SUM(ca * mr) AS r1,
          SUM(c * c * c - c) AS ties
        FROM r)
      SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_r,
        ROUND(r1 - n1 * (n1 + 1) / 2.0, 2) AS u,
        CAST(ROUND(CAST(CAST((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) /
          sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1)
            - ties * 1.0 / ((n1 + n2) * (n1 + n2 - 1.0)))) AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS z,
        CAST(CASE WHEN ABS((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) /
          sqrt(n1 * n2 / 12.0 * ((n1 + n2 + 1)
            - ties * 1.0 / ((n1 + n2) * (n1 + n2 - 1.0))))) > 1.96
          THEN 1 ELSE 0 END AS INTEGER) AS significant
      FROM s"""),
    (s, d) => mannWhitney(lineitem(s, d)
      .where(col("l_returnflag").isin("A", "R"))
      .select(col("l_quantity").as("v"),
        (col("l_returnflag") === "A").as("is_a"))))

  /** The q206 plan over any (v, is_a) frame — AnalyticsSpec pins a
    * hand-computed U/z on a textbook two-sample case with ties. */
  def mannWhitney(in: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dist = in.groupBy(col("v"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("is_a"), 1).otherwise(0)).as("ca"))
    // the pooled-distribution sweep: <= |distinct values| rows
    val r = dist.withColumn("mr",
      sum(col("c")).over(Window.orderBy(col("v")))
        - col("c") + (col("c") + 1) / lit(2.0))
    val agg = r.agg(sum(col("ca")).as("n1"),
      sum(col("c") - col("ca")).as("n2"),
      sum(col("ca") * col("mr")).as("r1"),
      sum(col("c") * col("c") * col("c") - col("c")).as("ties"))
    val u = col("r1") - col("n1") * (col("n1") + 1) / lit(2.0)
    val z = (u - col("n1") * col("n2") / lit(2.0)) /
      sqrt(col("n1") * col("n2") / lit(12.0) *
        ((col("n1") + col("n2") + 1)
          - col("ties") * lit(1.0) /
            ((col("n1") + col("n2")) * (col("n1") + col("n2") - lit(1.0)))))
    agg.select(col("n1").cast("long").as("n_a"),
      col("n2").cast("long").as("n_r"),
      round(u, 2).as("u"), round(z, 4).as("z"),
      (abs(z) > 1.96).cast("int").as("significant"))
  }

  /** Kaplan–Meier survival over user lifetimes — right-censored "time
    * to churn" (a user still active within 7 days of corpus end is
    * censored, not churned; naive churn averages over-count exactly
    * those). Per-user first/last days are one shuffle; everything
    * after runs on the LIFETIME DISTRIBUTION (≤ observation-window
    * days — calendar-bounded, the q122/q201 argument): risk sets from
    * one cumulative sweep, and the product-limit curve
    * S(t) = Π(1 − dᵢ/nᵢ) folds through one `aggregate` lambda over the
    * single collected series (the q201 clamp-fold pattern; no ln/exp,
    * so a time point where everyone at risk churns yields exactly 0 on
    * both engines). The oracle replays the identical ordered product
    * via DuckDB's product() window.
    */
  val q207KaplanMeier = GraftQuery(
    "q207_kaplan_meier",
    "Kaplan-Meier survival of user lifetime (churn = inactive 7d before end)",
    Some("""WITH u AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS fday,
          MAX(CAST(ts AS DATE)) AS lday
        FROM events GROUP BY 1),
      e AS (SELECT MAX(lday) AS endd FROM u),
      lt AS (
        SELECT datediff('day', fday, lday) AS t,
          CASE WHEN lday < endd - INTERVAL 7 DAY THEN 1 ELSE 0 END AS churn
        FROM u, e),
      d AS (SELECT t, COUNT(*) AS m, SUM(churn) AS dd FROM lt GROUP BY 1),
      r AS (
        SELECT t, m, dd, SUM(m) OVER (ORDER BY t) AS cum,
          (SELECT SUM(m) FROM d) AS total
        FROM d),
      k AS (
        SELECT t, total - cum + m AS n_risk, dd, m - dd AS c,
          product(1 - dd * 1.0 / (total - cum + m)) OVER (ORDER BY t) AS s
        FROM r)
      SELECT CAST(t AS INTEGER) AS t, CAST(n_risk AS BIGINT) AS n_risk,
        CAST(dd AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
        ROUND(s, 6) AS survival
      FROM k ORDER BY t"""),
    (s, d) => kaplanMeier(events(s, d)).orderBy(col("t")))

  /** The q207 plan over any (user_id, ts) frame — AnalyticsSpec pins a
    * textbook product-limit curve by hand and the censoring semantics
    * (a censor-only time point must not move the curve). */
  def kaplanMeier(ev: org.apache.spark.sql.DataFrame,
      censorDays: Int = 7): org.apache.spark.sql.DataFrame = {
    val day = to_date(col("ts"))
    val u = ev.groupBy(col("user_id"))
      .agg(min(day).as("fday"), max(day).as("lday"))
      .localCheckpoint(false) // feeds the end-of-observation scalar AND lifetimes
    val endRow = u.agg(max(col("lday")).as("endd"))
    val lt = u.crossJoin(broadcast(endRow))
      .select(datediff(col("lday"), col("fday")).as("t"),
        (col("lday") < date_sub(col("endd"), censorDays)).cast("long")
          .as("churn"))
    val dist = lt.groupBy(col("t"))
      .agg(count(lit(1)).as("m"), sum(col("churn")).as("dd"))
    dist
        .agg(sort_array(collect_list(struct(col("t"), col("m"), col("dd"))))
          .as("xs"), sum(col("m")).as("total"))
        .withColumn("run", expr(
          """aggregate(xs,
               struct(total as n_next, cast(1.0 as double) as s,
                 cast(array() as array<struct<
                   t:int, n_risk:bigint, d:bigint, c:bigint, s:double>>)
                   as out),
               (acc, x) -> struct(
                 acc.n_next - x.m,
                 acc.s * (1.0d - cast(x.dd as double)
                   / cast(acc.n_next as double)),
                 array_append(acc.out, named_struct(
                   't', x.t, 'n_risk', acc.n_next, 'd', x.dd,
                   'c', x.m - x.dd,
                   's', acc.s * (1.0d - cast(x.dd as double)
                     / cast(acc.n_next as double))))),
               acc -> acc.out)"""))
        .select(explode(col("run")).as("r"))
        .select(col("r.t").as("t"), col("r.n_risk").as("n_risk"),
          col("r.d").as("d"), col("r.c").as("c"),
          round(col("r.s"), 6).as("survival"))
  }

  /** Theil–Sen robust trend — the median of pairwise slopes, immune to
    * the outlier days that drag q184's OLS around (50% breakdown
    * point vs OLS's zero). The pairwise self-join is over the DAILY
    * series per type — calendar-bounded rows (the q122/q201 argument),
    * so days²/2 pairs is a constant-per-year cost at any corpus size;
    * the corpus itself is touched by exactly one groupBy. Medians via
    * the exact `percentile` aggregate (q38's parity convention with
    * DuckDB quantile_cont, 1e-9 nudge inside the round); the intercept
    * re-scores the daily table against the broadcast per-type slope.
    */
  val q208TheilSen = GraftQuery(
    "q208_theil_sen",
    "Theil-Sen median-slope trend of daily event values per type",
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds, SUM(value) AS v
        FROM events GROUP BY 1, 2),
      t AS (
        SELECT event_type, datediff('day', DATE '1970-01-01', ds) * 1.0
          AS t, v
        FROM daily),
      sl AS (
        SELECT a.event_type,
          quantile_cont((b.v - a.v) / (b.t - a.t), 0.5) AS slope,
          COUNT(*) AS n_pairs
        FROM t a JOIN t b
          ON a.event_type = b.event_type AND a.t < b.t
        GROUP BY 1),
      ic AS (
        SELECT t.event_type,
          quantile_cont(t.v - sl.slope * t.t, 0.5) AS intercept,
          COUNT(*) AS n_days
        FROM t JOIN sl ON t.event_type = sl.event_type
        GROUP BY 1)
      SELECT sl.event_type, CAST(ic.n_days AS BIGINT) AS n_days,
        CAST(sl.n_pairs AS BIGINT) AS n_pairs,
        ROUND(sl.slope + 1e-9, 6) AS slope,
        ROUND(ic.intercept + 1e-9, 4) AS intercept
      FROM sl JOIN ic ON sl.event_type = ic.event_type
      ORDER BY 1"""),
    (s, d) => theilSen(events(s, d)).orderBy(col("event_type")))

  /** The q208 plan over any (event_type, ts, value) frame —
    * AnalyticsSpec pins the robustness claim: a planted outlier day
    * that drags the OLS slope leaves the median slope exactly on the
    * clean trend. */
  def theilSen(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(sum(col("value")).as("v"))
      .select(col("event_type"),
        datediff(col("ds"), to_date(lit("1970-01-01")))
          .cast("double").as("t"), col("v"))
      .localCheckpoint(false) // feeds the pair join AND the intercept pass
    val a = t.toDF("event_type", "ta", "va")
    val b = t.toDF("event_type", "tb", "vb")
    val sl = a.join(b, Seq("event_type"))
      .where(col("ta") < col("tb"))
      .groupBy(col("event_type"))
      .agg(expr("percentile((vb - va) / (tb - ta), 0.5D)").as("slope"),
        count(lit(1)).as("n_pairs"))
    val ic = t.join(broadcast(sl), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(expr("percentile(v - slope * t, 0.5D)").as("intercept"),
        count(lit(1)).as("n_days"), first(col("slope")).as("slope"),
        first(col("n_pairs")).as("n_pairs"))
    ic.select(col("event_type"), col("n_days"), col("n_pairs"),
      round(col("slope") + 1e-9, 6).as("slope"),
      round(col("intercept") + 1e-9, 4).as("intercept"))
  }

  /** Gini coefficient of revenue concentration — the inequality
    * readout behind every "top x% of customers drive y% of revenue"
    * dashboard, and a data-curation lens (a corpus whose source mix
    * has Gini → 1 is one crawler in a trench coat). The only hard part
    * at scale is the global revenue rank, which is exactly
    * [[graft.etl.GlobalRank.withGlobalId]] (one range sort plus a
    * running count: only per-partition run counts are collected, never
    * a single-task sort — q159's machinery re-used). One aggregate over
    * the ranked table then evaluates G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n
    * with the deterministic (rev, custkey) total order on both
    * engines.
    */
  val q209Gini = GraftQuery(
    "q209_gini",
    "Gini coefficient of per-customer revenue (distributed rank form)",
    Some("""WITH rev AS (
        SELECT o_custkey, SUM(o_totalprice) AS rev
        FROM orders GROUP BY 1),
      r AS (
        SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i
        FROM rev)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
        ROUND(SUM(rev), 2) AS total_revenue,
        ROUND(2.0 * SUM(i * rev) / (COUNT(*) * SUM(rev))
          - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
      FROM r"""),
    (s, d) => gini(orders(s, d)))

  /** The q209 plan over any (o_custkey, o_totalprice) frame —
    * AnalyticsSpec pins G = 0 for perfect equality and (n−1)/n for
    * total concentration. */
  def gini(ord: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val rev = ord.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice")).as("rev"))
    val ranked = graft.etl.GlobalRank.withGlobalId(rev,
      Seq(col("rev"), col("o_custkey")))
    ranked.agg(count(lit(1)).as("n"), sum(col("rev")).as("sx"),
        sum(col("global_id") * col("rev")).as("six"))
      .select(col("n").cast("long").as("n_customers"),
        round(col("sx"), 2).as("total_revenue"),
        round(lit(2.0) * col("six") / (col("n") * col("sx"))
          - (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
  }

  /** Mutual information between event type and day-of-week — the
    * information-theoretic association readout (JS divergence q185
    * compares two distributions; MI asks whether two VARIABLES are
    * independent, the feature-selection primitive). Everything runs on
    * the joint contingency table — |types| × 7 rows at any corpus
    * size — whose cells, both marginals and the total come out of ONE
    * `cube` shuffle; one scalar aggregate then collects that table and
    * folds MI and the two entropies in a fixed order. Output in nats,
    * with NMI = MI/√(H_x·H_y).
    */
  val q210MutualInfo = GraftQuery(
    "q210_mutual_info",
    "mutual information (nats) + NMI between event_type and weekday",
    Some("""WITH j AS (
        SELECT event_type AS x, dayofweek(CAST(ts AS DATE)) + 1 AS y,
          COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      n AS (SELECT SUM(c) AS n FROM j),
      mx AS (SELECT x, SUM(c) AS cx FROM j GROUP BY 1),
      my AS (SELECT y, SUM(c) AS cy FROM j GROUP BY 1),
      mi AS (
        SELECT SUM((c * 1.0 / n.n) * ln((c * 1.0 * n.n) / (cx * 1.0 * cy)))
          AS mi
        FROM j JOIN mx USING (x) JOIN my USING (y), n),
      hx AS (SELECT -SUM((cx * 1.0 / n.n) * ln(cx * 1.0 / n.n)) AS h
        FROM mx, n),
      hy AS (SELECT -SUM((cy * 1.0 / n.n) * ln(cy * 1.0 / n.n)) AS h
        FROM my, n)
      SELECT CAST(n.n AS BIGINT) AS n_events,
        ROUND(mi.mi, 6) AS mi_nats,
        ROUND(hx.h, 6) AS h_type, ROUND(hy.h, 6) AS h_weekday,
        ROUND(mi.mi / sqrt(hx.h * hy.h), 6) AS nmi
      FROM mi, hx, hy, n"""),
    (s, d) => mutualInfo(events(s, d)))

  /** The q210 plan over any (event_type, ts) frame — AnalyticsSpec
    * pins MI = 0 for an independent construction, MI = H for a
    * deterministic dependence, and the null and empty cases below.
    *
    * `cube(x, y)` emits the cells (grouping id 0), the type marginal
    * (1), the weekday marginal (2) and the total n (3) in one shuffle.
    * The scalar aggregate collects each set, sorted, and every sum is
    * a left fold from 0.0 in that order (the q246 deterministic fold),
    * so its association does not depend on partitioning. The arrays
    * hold at most |types| × 7 entries at any corpus size.
    *
    * Nulls follow the oracle SQL's equi-joins: a null type or weekday
    * counts toward n and toward its own marginal (so toward that
    * entropy), but its cells add nothing to MI. With no cell whose
    * type and weekday are both set, MI is null; an empty input gives
    * a row of nulls.
    */
  def mutualInfo(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val g = col("g")
    val table = ev
      .cube(col("event_type").as("x"), dayofweek(to_date(col("ts"))).as("y"))
      .agg(grouping_id().as("g"), count(lit(1)).as("c"))
      .agg(max(when(g === 3, col("c"))).as("n"),
        array_sort(collect_list(when(g === 0 && col("x").isNotNull &&
          col("y").isNotNull, struct(col("x"), col("y"), col("c")))))
          .as("cells"),
        array_sort(collect_list(when(g === 1, struct(col("x"), col("c")))))
          .as("mx"),
        array_sort(collect_list(when(g === 2, struct(col("y"), col("c")))))
          .as("my"))
    val n = col("n")
    def fold(rows: Column, term: Column => Column): Column =
      when(size(rows) > 0, aggregate(rows, lit(0.0), (acc, r) => acc + term(r)))
    def marginal(m: Column, key: String): Column =
      map_from_entries(filter(m, r => r(key).isNotNull))
    val cx = marginal(col("mx"), "x")
    val cy = marginal(col("my"), "y")
    val mi = fold(col("cells"), r => (r("c") / n) *
      log(r("c") * n / (element_at(cx, r("x")) * element_at(cy, r("y")))))
    def entropy(m: Column): Column =
      -fold(m, r => (r("c") / n) * log(r("c") / n))
    table
      .select(n.cast("long").as("n_events"), mi.as("mi"),
        entropy(col("mx")).as("h_type"), entropy(col("my")).as("h_weekday"))
      .select(col("n_events"), round(col("mi"), 6).as("mi_nats"),
        round(col("h_type"), 6).as("h_type"),
        round(col("h_weekday"), 6).as("h_weekday"),
        round(col("mi") / sqrt(col("h_type") * col("h_weekday")), 6)
          .as("nmi"))
  }

  /** Benford first-digit conformance of order totals — the
    * distribution-fitness screen audit teams run on monetary columns
    * (fabricated amounts drift from log-uniform leading digits; the
    * q184-Zipf / q125-χ² family applied to digits). The digit is
    * extracted INTEGER-EXACTLY — cents = round(price·100) as a bigint,
    * first character of its decimal string — because a log10-based
    * floor can misbin at power-of-ten boundaries and double→string
    * formatting differs between engines while bigint→string cannot.
    * Per-digit observed vs log10(1+1/d) expected shares, and the χ²
    * statistic attached from the 9-row digit table as a broadcast
    * scalar.
    */
  val q211Benford = GraftQuery(
    "q211_benford",
    "Benford first-digit test of o_totalprice (per-digit shares + chi2)",
    Some("""WITH d AS (
        SELECT CAST(substr(CAST(CAST(ROUND(CAST(CAST(o_totalprice * 100
            AS VARCHAR) AS DECIMAL(38,18)), 0) AS BIGINT)
            AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders),
      o AS (SELECT digit, COUNT(*) AS c FROM d GROUP BY 1),
      n AS (SELECT SUM(c) AS n FROM o),
      x AS (
        SELECT SUM(pow(c - n.n * log10(1 + 1.0 / digit), 2)
          / (n.n * log10(1 + 1.0 / digit))) AS chi2
        FROM o, n)
      SELECT digit, CAST(c AS BIGINT) AS n_orders,
        CAST(ROUND(CAST(CAST(c * 1.0 / n.n AS VARCHAR)
          AS DECIMAL(38,18)), 6) AS DOUBLE) AS obs_frac,
        ROUND(log10(1 + 1.0 / digit), 6) AS benford_p,
        ROUND(x.chi2, 4) AS chi2
      FROM o, n, x ORDER BY digit"""),
    (s, d) => benford(orders(s, d)).orderBy(col("digit")))

  /** The q211 plan over any (o_totalprice) frame — AnalyticsSpec pins
    * the digit binning at power-of-ten boundaries and a hand-replayed
    * χ². */
  def benford(ord: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val o = ord
      .select(substring(round(col("o_totalprice") * 100)
        .cast("bigint").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("c"))
    val n = o.agg(sum(col("c")).as("n"))
    val p = log10(lit(1.0) + lit(1.0) / col("digit"))
    val x = o.crossJoin(broadcast(n))
      .agg(sum(pow(col("c") - col("n") * p, 2) / (col("n") * p))
        .as("chi2"))
    o.crossJoin(broadcast(n)).crossJoin(broadcast(x))
      .select(col("digit"), col("c").as("n_orders"),
        round(col("c") / col("n"), 6).as("obs_frac"),
        round(p, 6).as("benford_p"),
        round(col("chi2"), 4).as("chi2"))
  }

  /** Multi-touch conversion attribution — per channel, how much
    * conversion credit its touches earn under the three classic
    * models at once (first-touch, last-touch, linear), over a 7-day
    * lookback. The touch↔conversion join is EQUI on user_id with the
    * time window as residual — fan-out is bounded by per-user activity
    * (touches × purchases per user), never cross-user; the per-
    * conversion normalizer (k touches, argmin/argmax tie counts —
    * exact same-timestamp ties split their endpoint credit) is one
    * aggregate on (user, conversion) re-joined on the same key, so the
    * whole plan shuffles on user_id alone.
    */
  val q212Attribution = GraftQuery(
    "q212_attribution",
    "first/last/linear-touch purchase attribution per channel (7d lookback)",
    Some("""WITH conv AS (
        SELECT user_id, ts AS cts FROM events WHERE event_type = 'purchase'),
      touch AS (
        SELECT user_id, ts AS tts, event_type AS channel FROM events
        WHERE event_type <> 'purchase'),
      j AS (
        SELECT c.user_id, c.cts, t.tts, t.channel
        FROM conv c JOIN touch t ON t.user_id = c.user_id
          AND t.tts < c.cts AND t.tts >= c.cts - INTERVAL 7 DAY),
      g AS (
        SELECT user_id, cts, COUNT(*) AS k, MIN(tts) AS mn, MAX(tts) AS mx
        FROM j GROUP BY 1, 2),
      g3 AS (
        SELECT j.user_id, j.cts, MIN(g.k) AS k, MIN(g.mn) AS mn,
          MIN(g.mx) AS mx,
          SUM(CASE WHEN j.tts = g.mn THEN 1 ELSE 0 END) AS cmn,
          SUM(CASE WHEN j.tts = g.mx THEN 1 ELSE 0 END) AS cmx
        FROM j JOIN g USING (user_id, cts) GROUP BY 1, 2),
      cr AS (
        SELECT j.channel,
          1.0 / g3.k AS linear_c,
          CASE WHEN j.tts = g3.mn THEN 1.0 / g3.cmn ELSE 0 END AS first_c,
          CASE WHEN j.tts = g3.mx THEN 1.0 / g3.cmx ELSE 0 END AS last_c
        FROM j JOIN g3 USING (user_id, cts))
      SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
        ROUND(SUM(linear_c), 4) AS linear_credit,
        ROUND(SUM(first_c), 4) AS first_credit,
        ROUND(SUM(last_c), 4) AS last_credit
      FROM cr GROUP BY 1 ORDER BY 1"""),
    (s, d) => attribution(events(s, d)).orderBy(col("channel")))

  /** The q212 plan over any (user_id, ts, event_type) frame —
    * AnalyticsSpec pins a hand path (first/last/linear credits, the
    * 7-day cutoff, and endpoint ties splitting credit). */
  def attribution(ev: org.apache.spark.sql.DataFrame,
      lookbackDays: Int = 7): org.apache.spark.sql.DataFrame = {
    val e = ev.select(col("user_id"), col("ts"), col("event_type"))
    val conv = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("cts"))
    val touch = e.where(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts").as("tts"),
        col("event_type").as("channel"))
    val j = conv.join(touch, Seq("user_id"))
      .where(col("tts") < col("cts") &&
        col("tts") >= col("cts") - expr(s"INTERVAL $lookbackDays DAYS"))
      .localCheckpoint(false) // feeds the normalizer agg AND the credit scan
    // per-conversion normalizers, then endpoint tie counts (touches AT
    // the min/max timestamp) so exact same-ts ties SPLIT their credit
    val g2 = j.groupBy(col("user_id"), col("cts"))
      .agg(count(lit(1)).as("k"), min(col("tts")).as("mn"),
        max(col("tts")).as("mx"))
    val g3 = j.join(g2, Seq("user_id", "cts"))
      .groupBy(col("user_id"), col("cts"))
      .agg(first(col("k")).as("k"), first(col("mn")).as("mn"),
        first(col("mx")).as("mx"),
        sum((col("tts") === col("mn")).cast("int")).as("cmn"),
        sum((col("tts") === col("mx")).cast("int")).as("cmx"))
    j.join(g3, Seq("user_id", "cts"))
      .select(col("channel"),
        (lit(1.0) / col("k")).as("linear_c"),
        when(col("tts") === col("mn"), lit(1.0) / col("cmn"))
          .otherwise(lit(0.0)).as("first_c"),
        when(col("tts") === col("mx"), lit(1.0) / col("cmx"))
          .otherwise(lit(0.0)).as("last_c"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("linear_c")), 4).as("linear_credit"),
        round(sum(col("first_c")), 4).as("first_credit"),
        round(sum(col("last_c")), 4).as("last_credit"))
  }

  /** Autocorrelation function (lags 1–7) + Ljung–Box portmanteau —
    * the time-series diagnostic that says whether the daily series is
    * white noise before anyone fits q121's EWMA, q190's seasonal
    * profile, or M12's autoregression to it. The series is the
    * calendar-bounded per-type daily table; each lag's products come
    * from a DATE equi-join (7 probe rows per day — row-offset lags
    * would silently bridge missing days), the full-series
    * mean/variance attach broadcast, and Q = n(n+2)·Σ r²ₖ/(n−k) folds
    * the seven lag rows per type. Flag at the χ²₇ 5% critical value
    * (14.067).
    */
  val q214AcfLjungBox = GraftQuery(
    "q214_acf_ljung_box",
    "ACF lags 1-7 of daily sums per type + Ljung-Box Q white-noise test",
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds, SUM(value) AS v
        FROM events GROUP BY 1, 2),
      m AS (
        SELECT event_type, AVG(v) AS mu, COUNT(*) AS n
        FROM daily GROUP BY 1),
      c AS (
        SELECT daily.event_type, ds, v - mu AS x, n
        FROM daily JOIN m ON m.event_type = daily.event_type),
      ssq AS (SELECT event_type, SUM(x * x) AS ss FROM c GROUP BY 1),
      l AS (
        SELECT d.event_type, k.k, SUM(d.x * p.x) AS num,
          MIN(d.n) AS n
        FROM c d
        JOIN (SELECT unnest(range(1, 8)) AS k) k ON TRUE
        JOIN c p ON p.event_type = d.event_type
          AND p.ds = d.ds - CAST(k.k AS INTEGER)
        GROUP BY 1, 2),
      r AS (
        SELECT l.event_type, l.k, l.num / ssq.ss AS r, l.n
        FROM l JOIN ssq ON ssq.event_type = l.event_type),
      q AS (
        SELECT event_type, SUM(r * r / (n - k)) * MIN(n) * (MIN(n) + 2)
          AS q
        FROM r GROUP BY 1)
      SELECT r.event_type, CAST(r.k AS INTEGER) AS lag,
        ROUND(r.r, 6) AS acf, ROUND(q.q, 4) AS ljung_box_q,
        CAST(CASE WHEN q.q > 14.067 THEN 1 ELSE 0 END AS INTEGER)
          AS reject_white_noise
      FROM r JOIN q ON q.event_type = r.event_type
      ORDER BY 1, 2"""),
    (s, d) => acfLjungBox(events(s, d))
      .orderBy(col("event_type"), col("lag")))

  /** The q214 plan over any (event_type, ts, value) frame —
    * AnalyticsSpec pins a planted AR-ish series (alternating signs →
    * negative lag-1 ACF, Q rejects) against white-noise-ish behavior. */
  def acfLjungBox(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(sum(col("value")).as("v"))
      .localCheckpoint(false) // feeds the moments AND the seven lag scans
    val m = daily.groupBy(col("event_type"))
      .agg(avg(col("v")).as("mu"), count(lit(1)).as("n"))
    val centered = daily.join(broadcast(m), Seq("event_type"))
      .select(col("event_type"), col("ds"), (col("v") - col("mu")).as("x"),
        col("n"))
    val ss = centered.groupBy(col("event_type"))
      .agg(sum(col("x") * col("x")).as("ss"))
    // lag-k pairs by DATE equi-join (not row offset — a missing day
    // must break exactly the pairs it breaks in the oracle): each day
    // fans out to its seven lag probes, then matches the day exactly k
    // days earlier on the (event_type, date) key; fan-out is 7× the
    // calendar-bounded daily table
    val probes = centered
      .withColumn("k", explode(sequence(lit(1), lit(7))))
      .select(col("event_type"), col("k"), col("x"), col("n"),
        date_sub(col("ds"), col("k")).as("pds"))
    val prev = centered.select(col("event_type"), col("ds").as("pds"),
      col("x").as("px"))
    val r = probes.join(prev, Seq("event_type", "pds"))
      .groupBy(col("event_type"), col("k").as("lag"))
      .agg(sum(col("x") * col("px")).as("num"), first(col("n")).as("n"))
      .join(broadcast(ss), Seq("event_type"))
      .select(col("event_type"), col("lag"), (col("num") / col("ss")).as("r"),
        col("n"))
      .localCheckpoint(false) // feeds the Q fold AND the output rows
    val q = r.groupBy(col("event_type"))
      .agg((sum(col("r") * col("r") / (col("n") - col("lag")))
        * min(col("n")) * (min(col("n")) + 2)).as("q"))
    r.join(broadcast(q), Seq("event_type"))
      .select(col("event_type"), col("lag").cast("int").as("lag"),
        round(col("r"), 6).as("acf"),
        round(col("q"), 4).as("ljung_box_q"),
        (col("q") > 14.067).cast("int").as("reject_white_noise"))
  }

  /** Winsorized + trimmed means of lineitem price per return flag —
    * the robust location estimates q226's MAD fence implies but never
    * computes (winsorize CLAMPS the tails to the p05/p95 fences,
    * trimming DROPS them; both kill the outlier leverage a plain mean
    * inherits). Prices go through integer cents (q227 convention) so
    * the percentile inputs are bit-identical in both engines; the
    * boundaries are exact interpolated percentiles (quantile_cont ==
    * percentile, probed at q226), broadcast back as a 3-row table;
    * inclusion at the fence is >= / <= in BOTH engines. One corpus
    * shuffle on flag; the clamp/trim re-scan streams against the
    * broadcast fences.
    */
  val q235Winsorized = GraftQuery(
    "q235_winsorized",
    "winsorized (p05/p95) and trimmed means of price per return flag",
    Some("""WITH b AS (
        SELECT l_returnflag AS flag,
          CAST(ROUND(CAST(CAST(l_extendedprice * 100 AS VARCHAR)
            AS DECIMAL(38,18)), 0) AS BIGINT) AS cents
        FROM lineitem),
      f AS (
        SELECT flag, quantile_cont(cents, 0.05) AS p05,
          quantile_cont(cents, 0.95) AS p95
        FROM b GROUP BY 1)
      SELECT b.flag, CAST(COUNT(*) AS BIGINT) AS n,
        ROUND(f.p05 / 100.0, 4) AS p05, ROUND(f.p95 / 100.0, 4) AS p95,
        ROUND(AVG(b.cents) / 100.0, 4) AS mean,
        ROUND(AVG(LEAST(GREATEST(b.cents, f.p05), f.p95)) / 100.0, 4)
          AS wins_mean,
        ROUND(AVG(CASE WHEN b.cents >= f.p05 AND b.cents <= f.p95
          THEN b.cents END) / 100.0, 4) AS trimmed_mean,
        CAST(SUM(CASE WHEN b.cents >= f.p05 AND b.cents <= f.p95
          THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM b JOIN f USING (flag)
      GROUP BY 1, f.p05, f.p95 ORDER BY 1"""),
    (s, d) => winsorized(lineitem(s, d).select(
      col("l_returnflag").as("flag"),
      round(col("l_extendedprice") * 100).cast("bigint").as("cents"))))

  /** The q235 plan over any (flag, cents) frame — AnalyticsSpec
    * hand-traces the fences and the clamp-vs-drop distinction. */
  def winsorized(in: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // PRECONDITION: `cents` must be near-unique across rows — it is
    // the keyed-spread key below, and heavy-duplicate keys co-locate
    // (spread's documented contract), which would rebuild the skew
    // the spread exists to remove. The TPC-H caller qualifies
    // (extendedprice·100 is 97% distinct at sf0.1); a caller with a
    // low-cardinality value column should pass a row id instead.
    //
    // feeds the fences AND the re-scan; spread first — the exact
    // percentile's partial aggregation buffers every value per flag,
    // and at the raw fixture scan's 3 partitions that collection leg
    // runs on 3 of 32 cores (q238 rationale)
    val b = graft.model.Tables.spread(in, col("cents"))
    val f = b.groupBy(col("flag"))
      .agg(expr("percentile(cents, 0.05)").as("p05"),
        expr("percentile(cents, 0.95)").as("p95"))
    b.join(broadcast(f), Seq("flag"))
      .groupBy(col("flag"), col("p05"), col("p95"))
      .agg(count(lit(1)).as("n"),
        avg(col("cents")).as("mean_c"),
        avg(least(greatest(col("cents"), col("p05")), col("p95")))
          .as("wins_c"),
        avg(when(col("cents") >= col("p05") &&
          col("cents") <= col("p95"), col("cents"))).as("trim_c"),
        sum(when(col("cents") >= col("p05") &&
          col("cents") <= col("p95"), 1).otherwise(0))
          .cast("bigint").as("n_kept"))
      .select(col("flag"), col("n").cast("long").as("n"),
        round(col("p05") / 100.0, 4).as("p05"),
        round(col("p95") / 100.0, 4).as("p95"),
        round(col("mean_c") / 100.0, 4).as("mean"),
        round(col("wins_c") / 100.0, 4).as("wins_mean"),
        round(col("trim_c") / 100.0, 4).as("trimmed_mean"),
        col("n_kept"))
      .orderBy(col("flag"))
  }

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * marketing-analytics workhorse built WITHOUT a single window: each
    * dimension's quartile fences come from exact percentiles over the
    * per-customer rollup (a 9-value broadcast row), and scores are
    * fence comparisons — the q34 rank-map argument applied to
    * segmentation (an ntile() over customers would serialize the
    * corpus through one partition; PlanLint would reject it). Scoring
    * convention, identical in both engines: F/M score 1 + one point
    * per strictly-exceeded lower fence; R reversed (recent = high) via
    * strictly-undercut upper fences. Monetary runs in integer cents.
    */
  val q236Rfm = GraftQuery(
    "q236_rfm",
    "RFM quartile segmentation of customers (fence scores, no windows)",
    Some("""WITH cust AS (
        SELECT o_custkey AS c,
          date_diff('day', MAX(CAST(o_orderdate AS DATE)),
            (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS rec,
          COUNT(*) AS freq,
          SUM(CAST(ROUND(CAST(CAST(o_totalprice * 100 AS VARCHAR)
            AS DECIMAL(38,18)), 0) AS BIGINT)) AS mon
        FROM orders GROUP BY 1),
      q AS (
        SELECT quantile_cont(rec, 0.25) AS r25, quantile_cont(rec, 0.5)
            AS r50, quantile_cont(rec, 0.75) AS r75,
          quantile_cont(freq, 0.25) AS f25, quantile_cont(freq, 0.5)
            AS f50, quantile_cont(freq, 0.75) AS f75,
          quantile_cont(mon, 0.25) AS m25, quantile_cont(mon, 0.5)
            AS m50, quantile_cont(mon, 0.75) AS m75
        FROM cust)
      SELECT c AS custkey, CAST(rec AS BIGINT) AS recency_days,
        CAST(freq AS BIGINT) AS frequency,
        ROUND(mon / 100.0, 2) AS monetary,
        CAST(1 + (CASE WHEN rec < r75 THEN 1 ELSE 0 END)
           + (CASE WHEN rec < r50 THEN 1 ELSE 0 END)
           + (CASE WHEN rec < r25 THEN 1 ELSE 0 END) AS INTEGER) AS r,
        CAST(1 + (CASE WHEN freq > f25 THEN 1 ELSE 0 END)
           + (CASE WHEN freq > f50 THEN 1 ELSE 0 END)
           + (CASE WHEN freq > f75 THEN 1 ELSE 0 END) AS INTEGER) AS f,
        CAST(1 + (CASE WHEN mon > m25 THEN 1 ELSE 0 END)
           + (CASE WHEN mon > m50 THEN 1 ELSE 0 END)
           + (CASE WHEN mon > m75 THEN 1 ELSE 0 END) AS INTEGER) AS m
      FROM cust, q ORDER BY 1"""),
    (s, d) => rfm(orders(s, d).select(
      col("o_custkey").as("c"), to_date(col("o_orderdate")).as("od"),
      round(col("o_totalprice") * 100).cast("bigint").as("cents"))))

  /** The q236 plan over any (c, od, cents) frame — AnalyticsSpec
    * hand-traces the fence scoring and the recency reversal. */
  def rfm(in: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cust = in.groupBy(col("c"))
      .agg(max(col("od")).as("lastOd"), count(lit(1)).as("freq"),
        sum(col("cents")).as("mon"))
    val maxOd = cust.agg(max(col("lastOd")).as("gmax"))
    val rec = cust.crossJoin(broadcast(maxOd))
      .select(col("c"), datediff(col("gmax"), col("lastOd")).as("rec"),
        col("freq"), col("mon"))
    val q = rec.agg(
      expr("percentile(rec, 0.25)").as("r25"),
      expr("percentile(rec, 0.5)").as("r50"),
      expr("percentile(rec, 0.75)").as("r75"),
      expr("percentile(freq, 0.25)").as("f25"),
      expr("percentile(freq, 0.5)").as("f50"),
      expr("percentile(freq, 0.75)").as("f75"),
      expr("percentile(mon, 0.25)").as("m25"),
      expr("percentile(mon, 0.5)").as("m50"),
      expr("percentile(mon, 0.75)").as("m75"))
    rec.crossJoin(broadcast(q))
      .select(col("c").as("custkey"),
        col("rec").cast("long").as("recency_days"),
        col("freq").cast("long").as("frequency"),
        round(col("mon") / 100.0, 2).as("monetary"),
        (lit(1) + (col("rec") < col("r75")).cast("int")
          + (col("rec") < col("r50")).cast("int")
          + (col("rec") < col("r25")).cast("int")).cast("int").as("r"),
        (lit(1) + (col("freq") > col("f25")).cast("int")
          + (col("freq") > col("f50")).cast("int")
          + (col("freq") > col("f75")).cast("int")).cast("int").as("f"),
        (lit(1) + (col("mon") > col("m25")).cast("int")
          + (col("mon") > col("m50")).cast("int")
          + (col("mon") > col("m75")).cast("int")).cast("int").as("m"))
      .orderBy(col("custkey"))
  }

  /** Personalized PageRank from the hub supplier — q119's
    * query-centric sibling: global PR asks "what matters overall",
    * PPR asks "what matters NEAR this node" (the recommendation /
    * related-items primitive). Same bipartite supplier–part graph,
    * same long-id scheme and checkpointed edge set, but the teleport
    * mass all returns to the SOURCE (the max-distinct-parts supplier,
    * min id on ties — q232's hub convention): pr_{t+1}(v) =
    * 0.85·Σ_{u→v} pr_t(u)/outdeg(u) + [v = src]·0.15. Two unrolled
    * rounds; output ranks on the 8dp-ROUNDED score (the q119
    * convention — a last-ulp difference in a mass sum can't reorder
    * near-ties). Iterations shuffle the rank table only.
    */
  val q244Ppr = GraftQuery(
    "q244_ppr",
    "personalized PageRank from the hub supplier (2 unrolled rounds)",
    Some("""WITH pairs AS (
        SELECT DISTINCT l_suppkey * 2 AS s, l_partkey * 2 + 1 AS p
        FROM lineitem),
      edges AS (
        SELECT s AS src, p AS dst FROM pairs
        UNION ALL SELECT p, s FROM pairs),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
      hub AS (
        SELECT src AS h FROM deg WHERE src % 2 = 0
        ORDER BY outdeg DESC, src LIMIT 1),
      pr0 AS (
        SELECT src AS node, CASE WHEN src = h THEN 1.0 ELSE 0.0 END AS pr
        FROM deg, hub),
      it1 AS (
        SELECT e.dst AS node,
          0.85 * SUM(p.pr / d.outdeg)
            + CASE WHEN e.dst = MIN(hub.h) THEN 0.15 ELSE 0 END AS pr
        FROM edges e JOIN pr0 p ON e.src = p.node
        JOIN deg d ON e.src = d.src, hub GROUP BY e.dst),
      it2 AS (
        SELECT e.dst AS node,
          0.85 * SUM(p.pr / d.outdeg)
            + CASE WHEN e.dst = MIN(hub.h) THEN 0.15 ELSE 0 END AS pr
        FROM edges e JOIN it1 p ON e.src = p.node
        JOIN deg d ON e.src = d.src, hub GROUP BY e.dst)
      SELECT CASE WHEN node % 2 = 0 THEN 's' ELSE 'p' END
          || CAST(node // 2 AS VARCHAR) AS node,
        ROUND(pr, 8) AS pr
      FROM it2 WHERE ROUND(pr, 8) > 0
      ORDER BY ROUND(pr, 8) DESC, node LIMIT 20"""),
    (s, d) => {
      // write-once degree-annotated GraphEdgesLayout (q119's round-12
      // convention): weighted edges and the hub pick both come from
      // stored tables — no degree groupBy, join, or checkpoint before
      // iteration one
      val w = graft.sources.GraphEdgesLayout.supplierPartDegrees(s, d)
        .select((col("s").cast("long") * 2).as("s"),
          (col("p").cast("long") * 2 + 1).as("p"),
          col("sdeg").cast("long").as("sdeg"),
          col("pdeg").cast("long").as("pdeg"))
      val ew = w.select(col("s").as("src"), col("p").as("dst"),
          col("sdeg").as("outdeg"))
        .union(w.select(col("p"), col("s"), col("pdeg")))
      val nodes = graft.sources.GraphEdgesLayout.nodes(s, d)
        .select((col("key").cast("long") * 2 + (lit(1) - col("is_s")))
          .as("node"), col("outdeg").cast("long").as("outdeg"))
      personalizedPageRankOn(ew, nodes, iters = 2)
        .where(round(col("pr"), 8) > 0)
        .select(
          concat(when(col("node") % 2 === 0, lit("s")).otherwise(lit("p")),
            shiftright(col("node"), 1)).as("node"),
          round(col("pr"), 8).as("pr"))
        .orderBy(round(col("pr"), 8).desc, col("node"))
        .limit(20)
    })

  /** PPR over an even/odd-id bipartite edge frame: the source is the
    * max-outdeg EVEN node (min id ties); teleport mass returns only
    * to it. Shares q119's iteration shape (rank-table-only shuffles).
    */
  def personalizedPageRank(edges: org.apache.spark.sql.DataFrame,
      iters: Int): org.apache.spark.sql.DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(false)
    val ew = edges.join(deg, "src").localCheckpoint(false)
    personalizedPageRankOn(ew,
      deg.select(col("src").as("node"), col("outdeg")), iters)
  }

  /** PPR iterations over a PREBUILT weighted edge frame and
    * (node, outdeg) list — the layout-era entry (q244), the
    * [[pageRankOn]] treatment with the hub pick reading the stored
    * node-degree table instead of a per-query aggregate. */
  def personalizedPageRankOn(ew: org.apache.spark.sql.DataFrame,
      nodes: org.apache.spark.sql.DataFrame, iters: Int)
      : org.apache.spark.sql.DataFrame = {
    val hub = broadcast(nodes.where(col("node") % 2 === 0)
      .orderBy(col("outdeg").desc, col("node")).limit(1)
      .select(col("node").as("h")))
    var pr = nodes.select(col("node")).crossJoin(hub)
      .select(col("node"), col("h"),
        when(col("node") === col("h"), 1.0).otherwise(0.0).as("pr"))
    for (_ <- 1 to iters) {
      pr = ew.join(pr, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("outdeg")).as("mass"))
        .crossJoin(hub)
        .select(col("dst").as("node"), col("h"),
          (lit(0.85) * col("mass") +
            when(col("dst") === col("h"), 0.15).otherwise(0.0)).as("pr"))
    }
    pr.select(col("node"), col("pr"))
  }

  /** Funnel time-to-convert per signup cohort — the LATENCY
    * dimension q86's funnel counts and q87's retention offsets both
    * flatten: how long the signup→purchase step takes, not just
    * whether it completes. Per user: first signup ts and first
    * purchase AT-OR-AFTER it (a purchase predating signup is not a
    * conversion — the convention both engines share); cohort = first
    * signup day. Per cohort: size, conversions, rate, and exact
    * median/p90 days-to-convert (integer day gaps → the interpolated
    * percentile is dust-free; the 100 TB form swaps to
    * approx_percentile exactly as the executed q235 fence test).
    * Timestamps never touch floats, so every number is exact. One
    * (user) shuffle + one (cohort) rollup.
    */
  val q245TimeToConvert = GraftQuery(
    "q245_time_to_convert",
    "signup-cohort conversion rate + median/p90 days to first purchase",
    Some("""WITH su AS (
        SELECT user_id, MIN(ts) AS s_ts
        FROM events WHERE event_type = 'signup' GROUP BY 1),
      pu AS (
        SELECT su.user_id, su.s_ts, MIN(e.ts) AS p_ts
        FROM su LEFT JOIN events e
          ON e.user_id = su.user_id AND e.event_type = 'purchase'
          AND e.ts >= su.s_ts
        GROUP BY 1, 2),
      d AS (
        SELECT CAST(s_ts AS DATE) AS cohort,
          CASE WHEN p_ts IS NOT NULL THEN date_diff('day',
            CAST(s_ts AS DATE), CAST(p_ts AS DATE)) END AS days
        FROM pu)
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_signups,
        CAST(COUNT(days) AS BIGINT) AS n_converted,
        CAST(ROUND(CAST(CAST(COUNT(days) * 1.0 / COUNT(*) AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS conv_rate,
        quantile_cont(days, 0.5) AS median_days,
        quantile_cont(days, 0.9) AS p90_days
      FROM d GROUP BY 1 ORDER BY 1"""),
    (s, d) => timeToConvert(events(s, d)))

  /** The q245 pipeline over any (user_id, event_type, ts) frame —
    * AnalyticsSpec pins the at-or-after convention and the hand
    * quantiles. */
  def timeToConvert(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val su = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
    // the at-or-after condition lives IN the join: filtering after a
    // plain left join would drop users whose only purchases predate
    // signup instead of keeping them unconverted
    val p = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts").as("pts"))
    val pu = su.join(p,
        su("user_id") === p("p_uid") && p("pts") >= su("s_ts"), "left")
      .groupBy(col("user_id"), col("s_ts"))
      .agg(min(col("pts")).as("p_ts"))
    pu.select(to_date(col("s_ts")).as("cohort"),
        when(col("p_ts").isNotNull,
          datediff(to_date(col("p_ts")), to_date(col("s_ts"))))
          .as("days"))
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_signups"),
        count(col("days")).as("n_converted"),
        round(count(col("days")) * 1.0 / count(lit(1)), 4)
          .as("conv_rate"),
        expr("percentile(days, 0.5)").as("median_days"),
        expr("percentile(days, 0.9)").as("p90_days"))
      .select(col("cohort"), col("n_signups").cast("long"),
        col("n_converted").cast("long"), col("conv_rate"),
        col("median_days"), col("p90_days"))
      .orderBy(col("cohort"))
  }

  /** Shapley-value channel attribution — the game-theoretic closure
    * of q212's heuristic family (first/last/linear touch each pick an
    * arbitrary convention; Shapley is the unique allocation satisfying
    * efficiency/symmetry/dummy). The coalition value v(S) is the
    * OBSERVED 3-day conversion rate of users whose pre-purchase
    * exposure set is exactly S (channels = the four non-purchase
    * event types as a 4-bit mask; unobserved sets contribute v = 0 —
    * the documented convention), and each channel's value is the
    * exact k=4 Shapley sum Σ_S w(|S|)·(v(S∪c) − v(S)) over the
    * 16-mask universe. The corpus crosses TWO shuffles (first-ts
    * mins, then the per-user bit_or mask); everything after is
    * arithmetic over a ≤16-row broadcast table — the powerset never
    * touches row data, which is what makes Shapley (naively
    * exponential) a fixed-cost operator here. On this fixture the
    * value function INVERTS with set size (broad pre-purchase
    * wandering converts slower), so channel marginals go genuinely
    * negative — more honest than a toy monotone v. Shapley values are
    * emitted UNROUNDED (the q242 lesson: 1/24-weighted rationals land
    * exactly on display-round boundaries where the engines' dust
    * splits) and accumulated by a deterministic ascending-mask fold on
    * BOTH engines — a plain double SUM's association order differs
    * between Spark's partial aggregation and DuckDB's scan, and the
    * round-11 unrounded replica caught the trailing-ulp split.
    */
  val q246ShapleyAttribution = GraftQuery(
    "q246_shapley_attribution",
    "Shapley-value channel attribution over 3-day-conversion coalition rates",
    Some("""WITH fe AS (
        SELECT user_id, MIN(ts) AS f_ts FROM events GROUP BY 1),
      fp AS (SELECT user_id, MIN(ts) AS p_ts
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      conv AS (
        SELECT fe.user_id,
          CASE WHEN fp.p_ts IS NOT NULL AND date_diff('day',
              CAST(fe.f_ts AS DATE), CAST(fp.p_ts AS DATE)) <= 3
            THEN 1 ELSE 0 END AS conv,
          fp.p_ts
        FROM fe LEFT JOIN fp ON fp.user_id = fe.user_id),
      expo AS (
        SELECT e.user_id,
          bit_or(CASE e.event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
            WHEN 'signup' THEN 4 WHEN 'error' THEN 8 END) AS mask,
          MAX(conv.conv) AS conv
        FROM events e JOIN conv ON conv.user_id = e.user_id
        WHERE e.event_type <> 'purchase'
          AND (conv.p_ts IS NULL OR e.ts < conv.p_ts)
        GROUP BY 1),
      v AS (SELECT mask, COUNT(*) AS n, SUM(conv) * 1.0 / COUNT(*) AS v
        FROM expo GROUP BY 1),
      spine AS (SELECT unnest(range(16)) AS s),
      ch AS (SELECT * FROM (VALUES ('click', 1), ('view', 2),
        ('signup', 4), ('error', 8)) AS t(channel, bit)),
      terms AS (
        SELECT ch.channel, ch.bit, spine.s,
          CASE bit_count(spine.s) WHEN 0 THEN 0.25
            WHEN 1 THEN 0.08333333333333333
            WHEN 2 THEN 0.08333333333333333 ELSE 0.25 END
            * (COALESCE(vw.v, 0) - COALESCE(vo.v, 0)) AS term
        FROM ch JOIN spine ON (spine.s & ch.bit) = 0
        LEFT JOIN v vo ON vo.mask = spine.s
        LEFT JOIN v vw ON vw.mask = (spine.s | ch.bit)),
      nx AS (
        SELECT ch.channel, CAST(SUM(v.n) AS BIGINT) AS n_exposed
        FROM ch JOIN v ON (v.mask & ch.bit) > 0 GROUP BY 1)
      SELECT terms.channel,
        CAST(COALESCE(MIN(nx.n_exposed), 0) AS BIGINT) AS n_exposed,
        list_reduce(list_prepend(0.0, list(term ORDER BY terms.s)),
          (acc, x) -> acc + x) AS shapley
      FROM terms LEFT JOIN nx ON nx.channel = terms.channel
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => shapleyAttribution(events(s, d)))

  /** The q246 pipeline over any (user_id, event_type, ts) frame —
    * AnalyticsSpec hand-traces a 2-channel game and pins the
    * efficiency axiom. */
  def shapleyAttribution(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = ev.sparkSession
    val fe = ev.groupBy(col("user_id")).agg(min(col("ts")).as("f_ts"))
    val fp = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val conv = fe.join(fp, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("p_ts").isNotNull &&
          datediff(to_date(col("p_ts")), to_date(col("f_ts"))) <= 3, 1)
          .otherwise(0).as("conv"),
        col("p_ts"))
    val expo = ev.where(col("event_type") =!= "purchase")
      .join(conv, Seq("user_id"))
      .where(col("p_ts").isNull || col("ts") < col("p_ts"))
      .groupBy(col("user_id"))
      .agg(expr("""bit_or(CASE event_type WHEN 'click' THEN 1
          WHEN 'view' THEN 2 WHEN 'signup' THEN 4 WHEN 'error' THEN 8
          END)""").as("mask"),
        max(col("conv")).as("conv"))
    val v = expo.groupBy(col("mask"))
      .agg(count(lit(1)).as("n"),
        (sum(col("conv")) * 1.0 / count(lit(1))).as("v"))
      .localCheckpoint(false) // ≤16 rows; feeds both marginal joins + nx
    import spark.implicits._
    val spine = spark.range(16).select(col("id").cast("int").as("s"))
    val ch = Seq(("click", 1), ("view", 2), ("signup", 4), ("error", 8))
      .toDF("channel", "bit")
    val terms = ch.join(spine, (col("s").bitwiseAND(col("bit"))) === 0)
      .join(broadcast(v.select(col("mask").as("mo"), col("v").as("vo"))),
        col("mo") === col("s"), "left")
      .join(broadcast(v.select(col("mask").as("mw"), col("v").as("vw"))),
        col("mw") === (col("s").bitwiseOR(col("bit"))), "left")
      .select(col("channel"), col("s"),
        // 0.0833… as a literal: Spark parses `1.0 / 12` as DECIMAL
        // division (truncated precision); DuckDB as double — the 1e-7
        // gap the gate caught. The parsed double literal is identical
        // in both engines.
        (expr("""CASE bit_count(s) WHEN 0 THEN 0.25D
            WHEN 1 THEN 0.08333333333333333D
            WHEN 2 THEN 0.08333333333333333D ELSE 0.25D END""")
          * (coalesce(col("vw"), lit(0.0))
            - coalesce(col("vo"), lit(0.0)))).as("term"))
    val nx = ch.join(broadcast(v), (col("mask").bitwiseAND(col("bit"))) > 0)
      .groupBy(col("channel")).agg(sum(col("n")).as("n_exposed"))
    // left join: a channel nobody was exposed to still has a Shapley
    // value under the unobserved-as-0 convention (and the efficiency
    // axiom needs all k channels in the sum)
    // Deterministic left-fold in ascending mask order, NOT sum(term):
    // an 8-term double SUM associates per partition order on Spark and
    // per scan order on DuckDB, and the trailing-ulp dust differs (the
    // round-11 unrounded-replica catch). Both engines fold the SAME
    // bit-identical terms in the SAME order from the same 0.0 init —
    // the oracle mirrors with list_reduce(list_prepend(0.0,
    // list(term ORDER BY s))).
    terms.groupBy(col("channel"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("s"), col("term")))),
        lit(0.0),
        (acc, x) => acc + x.getField("term")).as("shapley"))
      .join(broadcast(nx), Seq("channel"), "left")
      .select(col("channel"),
        coalesce(col("n_exposed"), lit(0L)).cast("long").as("n_exposed"),
        col("shapley"))
      .orderBy(col("channel"))
  }

  /** The FD candidates q243 sweeps, (name, lhs, rhs) — shared by the
    * Spark plan and the GENERATED oracle so the list can't drift. The
    * mix is deliberate: a key FD (holds trivially), an entity FD
    * (holds through the join), and three that fail with different
    * g3 magnitudes. */
  private val FdCandidates = Seq(
    ("orderkey->custkey", "o_orderkey", "o_custkey"),
    ("custkey->nation", "o_custkey", "c_nationkey"),
    ("custkey->priority", "o_custkey", "o_orderpriority"),
    ("nation->segment", "c_nationkey", "c_mktsegment"),
    ("status->priority", "o_orderstatus", "o_orderpriority"))

  /** Approximate functional-dependency discovery over the
    * orders⋈customer frame — the data-quality profiler q126's
    * per-column stats can't give: column RELATIONSHIPS. For each
    * candidate lhs→rhs, the g3 error (Kivinen–Mannila): the minimum
    * fraction of rows to delete for the FD to hold exactly =
    * (N − Σ_lhs max_rhs n(lhs, rhs)) / N — all integer counts from
    * one (lhs, rhs) groupBy per candidate, so every number is exact.
    * Also reported: distinct lhs values and how many of them violate.
    * The candidate list is a shared constant; the oracle SQL is
    * GENERATED from it (the q233 precedent), so Spark and DuckDB
    * always sweep the same pairs. Each candidate costs two shuffles
    * of the projected frame — the sweep is linear in candidates, and
    * at 100 TB candidates prune by sampling first (the documented
    * production staging, same family as q143's candidate swap).
    */
  val q243FdDiscovery = GraftQuery(
    "q243_fd_discovery",
    "approximate FD discovery: g3 error per candidate lhs->rhs",
    Some {
      val blocks = FdCandidates.map { case (name, lhs, rhs) =>
        s"""SELECT '$name' AS fd, CAST(COUNT(*) AS BIGINT) AS n_lhs,
          CAST(SUM(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violating,
          CAST(SUM(n) AS BIGINT) AS n_rows,
          CAST(ROUND(CAST(CAST((SUM(n) - SUM(mx)) * 1.0 / SUM(n) AS VARCHAR)
          AS DECIMAL(38,18)), 6) AS DOUBLE) AS g3,
          CAST(CASE WHEN SUM(n) = SUM(mx) THEN 1 ELSE 0 END AS INTEGER)
            AS holds
        FROM (
          SELECT $lhs, COUNT(*) AS k, SUM(c) AS n, MAX(c) AS mx
          FROM (SELECT $lhs, $rhs, COUNT(*) AS c FROM j GROUP BY 1, 2)
          GROUP BY 1)"""
      }.mkString("\n      UNION ALL\n      ")
      s"""WITH j AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
          c_nationkey, c_mktsegment
        FROM orders JOIN customer ON o_custkey = c_custkey)
      $blocks
      ORDER BY 1"""
    },
    (s, d) => {
      val j = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("c_nationkey"), col("c_mktsegment"))
        .localCheckpoint(false) // feeds all five candidate sweeps
      FdCandidates.map { case (name, lhs, rhs) =>
        val per = j.groupBy(col(lhs), col(rhs)).agg(count(lit(1)).as("c"))
          .groupBy(col(lhs))
          .agg(count(lit(1)).as("k"), sum(col("c")).as("n"),
            max(col("c")).as("mx"))
        per.agg(count(lit(1)).as("n_lhs"),
          sum(when(col("k") > 1, 1).otherwise(0)).as("n_violating"),
          sum(col("n")).as("n_rows"),
          round((sum(col("n")) - sum(col("mx"))) * 1.0 / sum(col("n")), 6)
            .as("g3"),
          (sum(col("n")) === sum(col("mx"))).cast("int").as("holds"))
          .select(lit(name).as("fd"), col("n_lhs").cast("long"),
            col("n_violating").cast("long"), col("n_rows").cast("long"),
            col("g3"), col("holds"))
      }.reduce(_ unionAll _).orderBy(col("fd"))
    })

  /** DAU / WAU / MAU engagement + stickiness ratios per day — the
    * product-analytics readout q122's cumulative-distinct line
    * doesn't give: trailing-window distinct users. The sliding
    * distincts come from a range join of the deduped (user, day)
    * table against the broadcast DAY SPINE (fan-out ≤ 28 per
    * user-day, the standard scale-safe sliding-distinct form — never
    * a distinct-over-window, which Spark can't do, and never a
    * per-day rescan). Early days honestly report the partial-window
    * value (a 3-day-old product has a 3-day "WAU").
    */
  val q275Stickiness = GraftQuery(
    "q275_stickiness",
    "DAU/WAU/MAU and stickiness ratios per day (trailing 7/28-day distinct)",
    Some("""WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      spine AS (SELECT DISTINCT day FROM ud),
      dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
      wau AS (
        SELECT s.day, COUNT(DISTINCT ud.user_id) AS wau
        FROM spine s JOIN ud
          ON ud.day BETWEEN s.day - 6 AND s.day GROUP BY 1),
      mau AS (
        SELECT s.day, COUNT(DISTINCT ud.user_id) AS mau
        FROM spine s JOIN ud
          ON ud.day BETWEEN s.day - 27 AND s.day GROUP BY 1)
      SELECT dau.day, CAST(dau AS BIGINT) AS dau,
        CAST(wau AS BIGINT) AS wau, CAST(mau AS BIGINT) AS mau,
        CAST(ROUND(CAST(CAST(dau * 1.0 / wau AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS dau_wau,
        CAST(ROUND(CAST(CAST(dau * 1.0 / mau AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS dau_mau
      FROM dau JOIN wau ON dau.day = wau.day
        JOIN mau ON dau.day = mau.day
      ORDER BY 1"""),
    (s, d) => stickiness(events(s, d)))

  /** The q275 pipeline — AnalyticsSpec pins the window semantics on
    * a hand frame (a user active once stays in WAU exactly 7 days). */
  def stickiness(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ud = ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val spine = ud.select(col("day")).distinct()
      .select(col("day").as("sday"))
    def sliding(back: Int, name: String) =
      broadcast(spine).join(ud,
          col("day").between(date_sub(col("sday"), back), col("sday")))
        .groupBy(col("sday"))
        .agg(countDistinct(col("user_id")).as(name))
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    dau.join(sliding(6, "wau"), col("day") === col("sday"))
      .drop("sday")
      .join(sliding(27, "mau"), col("day") === col("sday"))
      .select(col("day"), col("dau").cast("long").as("dau"),
        col("wau").cast("long").as("wau"), col("mau").cast("long").as("mau"),
        round(col("dau") * lit(1.0) / col("wau"), 4).as("dau_wau"),
        round(col("dau") * lit(1.0) / col("mau"), 4).as("dau_mau"))
      .orderBy(col("day"))
  }

  /** Two-sample Cramér–von Mises test per event type for the q124
    * hash A/B split — the INTEGRATED-square companion of q192's KS
    * sup-statistic (KS sees the single worst CDF gap; CvM weights
    * every gap by pooled mass, so spread-out small distortions that
    * KS misses accumulate). Ties-robust discrete form over the value
    * histogram: ω² = Σ_v (F₀−F₁)²·(c₀+c₁)/N, reported with the
    * conventional scaling T = n₀n₁/N · ω². Same cumulative-window
    * shape as q192 (per-type partitions over the value histogram).
    */
  val q276Cvm = GraftQuery(
    "q276_cvm",
    "two-sample Cramér-von Mises statistic per event_type (hash A/B split)",
    Some("""WITH e AS (
        SELECT event_type, value, user_id % 2 AS arm FROM events),
      c AS (
        SELECT event_type, value,
          COUNT(CASE WHEN arm = 0 THEN 1 END) AS c0,
          COUNT(CASE WHEN arm = 1 THEN 1 END) AS c1
        FROM e GROUP BY 1, 2),
      n AS (
        SELECT event_type, SUM(c0) AS n0, SUM(c1) AS n1
        FROM c GROUP BY 1),
      f AS (
        SELECT c.event_type, c0, c1, n0, n1,
          SUM(c0) OVER (PARTITION BY c.event_type ORDER BY value
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / n0
          - SUM(c1) OVER (PARTITION BY c.event_type ORDER BY value
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / n1
            AS diff
        FROM c JOIN n USING (event_type)),
      o AS (
        SELECT event_type, MAX(n0) AS n0, MAX(n1) AS n1,
          SUM(diff * diff * (c0 + c1) * 1.0 / (n0 + n1)) AS omega2
        FROM f GROUP BY 1)
      SELECT event_type, CAST(n0 AS BIGINT) AS n0,
        CAST(n1 AS BIGINT) AS n1, ROUND(omega2, 6) AS omega2,
        ROUND(n0 * n1 * omega2 / (n0 + n1), 4) AS cvm_t
      FROM o ORDER BY 1"""),
    (s, d) => cvm(events(s, d)))

  /** The q276 pipeline — AnalyticsSpec pins identical samples at 0
    * and a planted shift that CvM scores while the per-gap KS d
    * stays modest (the integrated-vs-sup point). */
  def cvm(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val arm = col("user_id") % 2
    val c = ev.groupBy(col("event_type"), col("value"))
      .agg(count(when(arm === 0, 1)).as("c0"),
        count(when(arm === 1, 1)).as("c1"))
    val n = c.groupBy(col("event_type"))
      .agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c.join(broadcast(n), Seq("event_type"))
      .withColumn("diff",
        sum(col("c0")).over(w) * lit(1.0) / col("n0") -
          sum(col("c1")).over(w) * lit(1.0) / col("n1"))
      .groupBy(col("event_type"))
      .agg(max(col("n0")).as("n0"), max(col("n1")).as("n1"),
        sum(col("diff") * col("diff") * (col("c0") + col("c1")) * lit(1.0)
          / (col("n0") + col("n1"))).as("omega2"))
      .select(col("event_type"), col("n0").cast("long").as("n0"),
        col("n1").cast("long").as("n1"),
        round(col("omega2"), 6).as("omega2"),
        round(col("n0") * col("n1") * col("omega2")
          / (col("n0") + col("n1")), 4).as("cvm_t"))
      .orderBy(col("event_type"))
  }

  /** Hill tail-index estimator over order totals per priority class —
    * the heavy-tail diagnostic (α < 2 → infinite variance, sample
    * means untrustworthy; α < 1 → infinite mean) that tells a
    * pipeline whether revenue aggregates can be trusted at all:
    * α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) over the k = 50 largest
    * values. The top-(k+1) selection orders by (value DESC, orderkey)
    * in BOTH engines so boundary ties pick identical multisets; the
    * per-class rank is a window over the class partition (the q06
    * top-k precedent — at 100 TB the bounded-heap TopKByScore form
    * q44 ships is the swap-in). Also reported: the implied "does the
    * mean exist" flags.
    */
  val q279Hill = GraftQuery(
    "q279_hill",
    "Hill tail index (k=50) of order totals per priority class",
    Some("""WITH r AS (
        SELECT o_orderpriority, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders),
      t AS (SELECT * FROM r WHERE rk <= 51),
      b AS (SELECT o_orderpriority,
          MAX(CASE WHEN rk = 51 THEN o_totalprice END) AS xk1
        FROM t GROUP BY 1),
      h AS (
        SELECT t.o_orderpriority,
          50.0 / SUM(ln(o_totalprice / xk1)) AS alpha,
          MIN(xk1) AS xk1
        FROM t JOIN b ON t.o_orderpriority = b.o_orderpriority
        WHERE rk <= 50 GROUP BY 1)
      SELECT o_orderpriority, 50 AS k, ROUND(xk1, 2) AS x_k1,
        ROUND(alpha, 4) AS alpha,
        CAST(CASE WHEN alpha > 1 THEN 1 ELSE 0 END AS INTEGER)
          AS finite_mean,
        CAST(CASE WHEN alpha > 2 THEN 1 ELSE 0 END AS INTEGER)
          AS finite_var
      FROM h ORDER BY 1"""),
    (s, d) => hill(orders(s, d), 50))

  /** The q279 pipeline — AnalyticsSpec pins an exact-Pareto sample
    * (the estimator recovers the planted index) and the flags. */
  def hill(ord: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val t = ord.select(col("o_orderpriority"), col("o_totalprice"),
        row_number().over(w).as("rk"))
      .filter(col("rk") <= k + 1)
      .localCheckpoint(false) // feeds the boundary AND the log sum
    val b = t.groupBy(col("o_orderpriority"))
      .agg(max(when(col("rk") === k + 1, col("o_totalprice"))).as("xk1"))
    t.join(broadcast(b), Seq("o_orderpriority"))
      .filter(col("rk") <= k)
      .groupBy(col("o_orderpriority"))
      .agg((lit(k * 1.0) / sum(log(col("o_totalprice") / col("xk1"))))
        .as("alpha"), min(col("xk1")).as("xk1"))
      .select(col("o_orderpriority"), lit(k).as("k"),
        round(col("xk1"), 2).as("x_k1"), round(col("alpha"), 4).as("alpha"),
        (col("alpha") > 1).cast("int").as("finite_mean"),
        (col("alpha") > 2).cast("int").as("finite_var"))
      .orderBy(col("o_orderpriority"))
  }

  /** Matrix-profile window length (weeks). */
  val MpWindow = 8

  /** Matrix profile of the weekly total-quantity series per return
    * flag — motif/discord discovery (Yeh et al., "Matrix Profile I",
    * ICDM 2016): for every length-[[MpWindow]] subsequence, the
    * distance to its nearest non-overlapping neighbor (|i−j| ≥ m
    * trivial-match exclusion). Small profile values = repeated
    * motifs; the max row is the series' top discord (anomalous
    * shape). Distance is MEAN-CENTERED (offset-invariant — a motif is
    * a shape, not a level) Euclidean, kept exactly integral by
    * scaling by m: d2 = Σ_t ((aₜ−bₜ)·m − (Sa−Sb))² =
    * m²·Σ((aₜ−ā)−(bₜ−b̄))². Quantities are integer-valued and IEEE
    * sums of integers below 2⁵³ are exact in any order, so the
    * series, every distance, and the (d2, j) argmin tie-break are
    * engine-exact integers with no rounding step anywhere; the one
    * float is the reported dist = √d2/m, a correctly-rounded IEEE op
    * on an exact int. (The first cut used ROUND(AVG·100) cents —
    * engine-order dust flips that at half-cent boundaries; q285 hit
    * the same trap and both moved to exact integer sums.)
    *
    * Scale design: the time axis is CALENDAR WEEKS — window and pair
    * tables are ≤(52·years) and ≤(52·years)² rows per group at any
    * corpus scale (the q285 boundedness argument); the only
    * data-bound pass is the weekly aggregate's single shuffle. The
    * window-pair join is an equi-join on the group key with the
    * exclusion residual; the NN argmin is a per-(group, i) window
    * over the bounded pair table.
    */
  val q286MatrixProfile = GraftQuery(
    "q286_matrix_profile",
    "matrix profile (nearest non-overlapping subsequence) of weekly quantity per flag",
    Some(s"""WITH wkly AS (
        SELECT l_returnflag, date_trunc('week', l_shipdate) AS wk,
          CAST(SUM(l_quantity) AS BIGINT) AS y
        FROM lineitem GROUP BY 1, 2),
      ser AS (
        SELECT l_returnflag, wk, y AS c,
          ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY wk) AS i
        FROM wkly),
      win AS (
        SELECT s.l_returnflag, s.i, s.wk,
          list(t.c ORDER BY t.i) AS w,
          CAST(SUM(t.c) AS BIGINT) AS sw
        FROM ser s JOIN ser t
          ON s.l_returnflag = t.l_returnflag
          AND t.i BETWEEN s.i AND s.i + ${MpWindow - 1}
        GROUP BY s.l_returnflag, s.i, s.wk
        HAVING COUNT(*) = $MpWindow),
      pr AS (
        SELECT a.l_returnflag, a.i AS ia, a.wk AS wka,
          b.i AS ib, b.wk AS wkb,
          CAST(list_sum(list_transform(range($MpWindow), t ->
            CAST((a.w[t+1] - b.w[t+1]) * $MpWindow - (a.sw - b.sw) AS HUGEINT) *
            CAST((a.w[t+1] - b.w[t+1]) * $MpWindow - (a.sw - b.sw) AS HUGEINT)))
            AS DECIMAL(38,0)) AS d2
        FROM win a JOIN win b
          ON a.l_returnflag = b.l_returnflag
          AND abs(a.i - b.i) >= $MpWindow),
      nn AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY l_returnflag, ia ORDER BY d2, ib) AS rn
        FROM pr)
      SELECT l_returnflag, CAST(wka AS DATE) AS wk,
        CAST(wkb AS DATE) AS nn_wk, CAST(d2 AS DOUBLE) AS d2,
        CAST(ROUND(CAST(CAST(SQRT(d2) / $MpWindow AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS dist
      FROM nn WHERE rn = 1 ORDER BY 1, 2"""),
    (s, d) => matrixProfile(lineitem(s, d)
      .groupBy(col("l_returnflag"),
        date_trunc("week", col("l_shipdate")).cast("date").as("wk"))
      .agg(sum(col("l_quantity")).cast("long").as("y"))))

  /** Log-rank (Mantel–Cox) two-sample survival test over the q207
    * lifetime framing — the hypothesis test Kaplan–Meier curves call
    * for: at every churn time t, the observed arm-0 deaths vs the
    * hypergeometric expectation d·n₀/n given the at-risk counts,
    * summed into O−E and its variance; χ² = (O−E)²/V, z = (O−E)/√V.
    * Arms are the deterministic user_id%2 coin (the repo's A/B
    * convention), so under the null the statistic sits near 0 — the
    * fixture's value is the null-calibration check, and the planted
    * spec regime is where the test must fire.
    *
    * Scale design: one shuffle builds per-user lifetimes; everything
    * after runs on the (arm × distinct-lifetime) table — bounded by
    * CALENDAR DAYS, not users (the q285/q286 axis argument). At-risk
    * counts come from a per-arm cumulative window over that bounded
    * spine (never a per-user window), so a billion users cost one
    * aggregate pass. All counts are integers; the per-time E/V terms
    * are the only doubles and the reported statistics round 4dp.
    */
  val q287LogRank = GraftQuery(
    "q287_log_rank",
    "log-rank test: user-lifetime survival, arm = user_id % 2 (null calibration)",
    Some("""WITH u AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS fday,
          MAX(CAST(ts AS DATE)) AS lday
        FROM events GROUP BY 1),
      e AS (SELECT MAX(lday) AS endd FROM u),
      lt AS (
        SELECT user_id % 2 AS arm, datediff('day', fday, lday) AS t,
          CASE WHEN lday < endd - INTERVAL 7 DAY THEN 1 ELSE 0 END AS churn
        FROM u, e),
      cnt AS (
        SELECT arm, t, COUNT(*) AS m, SUM(churn) AS d
        FROM lt GROUP BY 1, 2),
      spine AS (
        SELECT s.t, a.arm FROM (SELECT DISTINCT t FROM lt) s
        CROSS JOIN (SELECT 0 AS arm UNION ALL SELECT 1) a),
      g AS (
        SELECT spine.t, spine.arm,
          COALESCE(cnt.m, 0) AS m, COALESCE(cnt.d, 0) AS d
        FROM spine LEFT JOIN cnt USING (t, arm)),
      r AS (
        SELECT t, arm, d,
          SUM(m) OVER (PARTITION BY arm) -
          SUM(m) OVER (PARTITION BY arm ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + m AS atrisk
        FROM g),
      w AS (
        SELECT t,
          SUM(CASE WHEN arm = 0 THEN atrisk ELSE 0 END) AS n0,
          SUM(CASE WHEN arm = 1 THEN atrisk ELSE 0 END) AS n1,
          SUM(CASE WHEN arm = 0 THEN d ELSE 0 END) AS d0,
          SUM(d) AS dt
        FROM r GROUP BY t),
      terms AS (
        SELECT d0,
          dt * CAST(n0 AS DOUBLE) / (n0 + n1) AS e0t,
          CASE WHEN n0 + n1 > 1 THEN
            dt * (CAST(n0 AS DOUBLE) / (n0 + n1)) *
            (1 - CAST(n0 AS DOUBLE) / (n0 + n1)) *
            (n0 + n1 - dt) / (n0 + n1 - 1)
          ELSE 0 END AS vt
        FROM w WHERE dt > 0)
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM lt WHERE arm = 0) AS n0_users,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM lt WHERE arm = 1) AS n1_users,
        CAST(SUM(d0) AS BIGINT) AS observed0,
        ROUND(SUM(e0t), 4) AS expected0,
        ROUND(POWER(SUM(d0) - SUM(e0t), 2) / nullif(SUM(vt), 0), 4) AS chi2,
        ROUND((SUM(d0) - SUM(e0t)) / SQRT(nullif(SUM(vt), 0)), 4) AS z
      FROM terms"""),
    (s, d) => {
      val u = events(s, d).groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("fday"), max(to_date(col("ts"))).as("lday"))
      val e = u.agg(max(col("lday")).as("endd"))
      val lt = u.crossJoin(broadcast(e))
        .select(pmod(col("user_id"), lit(2)).cast("int").as("arm"),
          datediff(col("lday"), col("fday")).as("t"),
          when(col("lday") < date_sub(col("endd"), 7), 1).otherwise(0).as("churn"))
      logRank(lt)
    })

  /** The log-rank plan over any (arm ∈ {0,1}, t, churn ∈ {0,1}) frame
    * — extracted so AnalyticsSpec can hand-trace risk sets and plant
    * a separated-survival regime. */
  def logRank(lt: DataFrame): DataFrame = {
    val lt0 = lt.localCheckpoint(false) // feeds counts, spine, totals
    val cnt = lt0.groupBy(col("arm"), col("t"))
      .agg(count(lit(1)).as("m"), sum(col("churn")).as("d"))
    val spine = lt0.select(col("t")).distinct()
      .crossJoin(broadcast(
        lt0.sparkSession.range(2).select(col("id").cast("int").as("arm"))))
    val g = spine.join(cnt, Seq("t", "arm"), "left")
      .select(col("t"), col("arm"),
        coalesce(col("m"), lit(0L)).as("m"), coalesce(col("d"), lit(0L)).as("d"))
    val wCum = Window.partitionBy(col("arm")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("arm"))
    val r = g
      .withColumn("atrisk", sum(col("m")).over(wTot) -
        sum(col("m")).over(wCum) + col("m"))
    val w = r.groupBy(col("t"))
      .agg(sum(when(col("arm") === 0, col("atrisk")).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, col("atrisk")).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, col("d")).otherwise(0L)).as("d0"),
        sum(col("d")).as("dt"))
      .filter(col("dt") > 0)
    val p0 = col("n0").cast("double") / (col("n0") + col("n1"))
    val terms = w.select(col("d0"),
      (col("dt") * p0).as("e0t"),
      when(col("n0") + col("n1") > 1,
        col("dt") * p0 * (lit(1) - p0) *
          (col("n0") + col("n1") - col("dt")) /
          (col("n0") + col("n1") - 1)).otherwise(lit(0.0)).as("vt"))
    val users = lt0.groupBy()
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0_users"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1_users"))
    // nullif guards the degenerate all-vt=0 case (every death time has
    // one subject at risk): NULL on both engines instead of Inf/NaN.
    terms.agg(sum(col("d0")).as("o0"), sum(col("e0t")).as("e0"),
        sum(col("vt")).as("v"))
      .crossJoin(broadcast(users))
      .select(col("n0_users"), col("n1_users"),
        col("o0").cast("long").as("observed0"),
        round(col("e0"), 4).as("expected0"),
        round(pow(col("o0") - col("e0"), 2) / nullif(col("v"), lit(0.0)), 4)
          .as("chi2"),
        round((col("o0") - col("e0")) / sqrt(nullif(col("v"), lit(0.0))), 4)
          .as("z"))
  }

  /** The matrix-profile plan over any (l_returnflag, wk, y) series
    * frame (y integer-valued) — extracted so AnalyticsSpec can plant
    * a motif + discord and check the profile finds them. */
  def matrixProfile(weekly: DataFrame): DataFrame = {
    val m = MpWindow
    val wI = Window.partitionBy(col("l_returnflag")).orderBy(col("wk"))
    val frame = wI.rowsBetween(Window.currentRow, m - 1)
    // spread after the checkpoint: the weekly aggregate coalesces to
    // ~1 partition at fixture scale, so without it the WHOLE pair
    // fan-out (≥350k zip_with + Decimal(38,0) reductions) ran on one
    // core of the session width (round-12 probe: pair stage `(0+1)/1`
    // in the UI, 1.3 s single-threaded).
    val win = graft.model.Tables.spread(weekly
      .withColumn("i", row_number().over(wI))
      .withColumn("c", col("y").cast("long"))
      .withColumn("w", collect_list(col("c")).over(frame))
      .withColumn("sw", sum(col("c")).over(frame))
      .filter(size(col("w")) === m)
      .select(col("l_returnflag"), col("i"), col("wk"), col("w"), col("sw"))
      .localCheckpoint(false), col("i")) // feeds both sides of the pair join
    val a = win.select(col("l_returnflag"), col("i").as("ia"),
      col("wk").as("wka"), col("w").as("wa"), col("sw").as("swa"))
    val b = win.select(col("l_returnflag"), col("i").as("ib"),
      col("wk").as("wkb"), col("w").as("wb"), col("sw").as("swb"))
    // Each diff fits int64 (≤ ~2·m·weeklyMax) but its square overflows
    // once weekly sums pass ~3e9, so square and accumulate in
    // Decimal(38,0) — the NN argmin and (d2, ib) tie-break run on the
    // exact value. The EMITTED d2 is cast to double in the final
    // select only: DECIMAL output columns are unhashable at the
    // driver gate (r9/r10 red even with both sides DECIMAL(38,0) and
    // bit-identical values; r8's integer form was green), and both
    // engines cast the same exact integer to the same correctly
    // rounded IEEE double at any magnitude.
    //
    // d2 is computed ONCE per unordered pair (ib − ia ≥ m) via the
    // algebraic identity Σ_t(m·(aₜ−bₜ) − (Sa−Sb))² =
    // m²·Σ(aₜ−bₜ)² − m·(Sa−Sb)² (expand; Σ(aₜ−bₜ) = Sa−Sb and the
    // window has exactly m terms), then exploded into both
    // directions — every intermediate is an exact integer in
    // Decimal(38,0), so the value is bit-identical to the per-element
    // fold while halving the pair fan-out's decimal work (round-12
    // probe: exceptAll both ways = 0 rows at sf0.1).
    val dd = (col("swa") - col("swb")).cast(DecimalType(38, 0))
    val s2 = aggregate(
      zip_with(col("wa"), col("wb"), (x, y) =>
        (x - y).cast(DecimalType(38, 0)) * (x - y).cast(DecimalType(38, 0))),
      lit(0).cast(DecimalType(38, 0)), (acc, v) => acc + v)
    val half = a.join(b, Seq("l_returnflag"))
      .filter(col("ib") - col("ia") >= m)
      .withColumn("d2",
        (lit(m * m).cast(DecimalType(38, 0)) * s2 -
          lit(m).cast(DecimalType(38, 0)) * dd * dd)
          .cast(DecimalType(38, 0)))
    // NN argmin as min(struct(d2, ib, wkb)) — a map-side-combined hash
    // aggregate (the q167 propagateMode idiom) instead of the old
    // row_number window, which shuffled and sorted the full pair
    // fan-out per (flag, ia) partition. (d2, ib) is unique within a
    // group, so the lexicographic struct min selects exactly the old
    // rn = 1 row — same exact-decimal comparison, same tie-break.
    half.select(col("l_returnflag"), explode(array(
        struct(col("ia"), col("wka"), col("d2"), col("ib"), col("wkb")),
        struct(col("ib").as("ia"), col("wkb").as("wka"), col("d2"),
          col("ia").as("ib"), col("wka").as("wkb")))).as("e"))
      .select(col("l_returnflag"), col("e.ia").as("ia"),
        col("e.wka").as("wka"), col("e.d2").as("d2"),
        col("e.ib").as("ib"), col("e.wkb").as("wkb"))
      .groupBy(col("l_returnflag"), col("ia"), col("wka"))
      .agg(min(struct(col("d2"), col("ib"), col("wkb"))).as("nn"))
      .select(col("l_returnflag"), col("wka").as("wk"),
        col("nn.wkb").as("nn_wk"), col("nn.d2").cast("double").as("d2"),
        round(sqrt(col("nn.d2")) / m, 4).as("dist"))
      .orderBy(col("l_returnflag"), col("wk"))
  }
}
