package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables._

/** Sequential time-series operators over the per-type daily tables —
  * the forecasting/monitoring recurrences the reference's AR forecast
  * (music.md:1039-1248, M12/M13) implies but never names: Holt linear
  * trend (the level+slope smoother an AR ensemble is benchmarked
  * against), the Page–Hinkley drift test (the sequential alarm CUSUM's
  * q201 family is missing), and a rolling z-score anomaly screen (the
  * windowed twin of q226's global MAD fence).
  *
  * Shared design rule (the q201 argument): every recurrence folds the
  * DAY table — calendar-bounded, |days| × |types| rows, never event
  * rows — through one codegen'd `aggregate` lambda; the corpus crosses
  * exactly one (event_type, day) shuffle. Daily sums are rounded to
  * 2dp FIRST (the q226 convention) so both engines fold bit-identical
  * inputs and the 4dp output round absorbs only the engines' own
  * float-op dust, not distributed-sum ordering.
  */
object SeriesQueries {

  def queries: Seq[GraftQuery] = Seq(q229Holt, q230PageHinkley,
    q231RollingZ, q234MannKendall, q242Binseg, q261HoltWinters,
    q278Gumbel)

  /** Holt linear-trend (double exponential) smoothing, α=0.5 β=0.3:
    * l_t = αv_t + (1−α)(l_{t−1}+b_{t−1}), b_t = β(l_t−l_{t−1}) +
    * (1−β)b_{t−1}, one-step forecast f_t = l_{t−1}+b_{t−1}; init
    * l_1 = v_1, b_1 = 0, f_1 = v_1. The coupled (l, b) state is
    * non-linearizable across days (the q121 EWMA power trick handles
    * a single geometric state, not two), so each type's ordered day
    * series folds through one `aggregate` lambda; DuckDB replays the
    * identical recurrence as a recursive CTE.
    */
  val q229Holt = GraftQuery(
    "q229_holt",
    "Holt linear-trend smoothing (α=0.5, β=0.3) over daily event sums",
    Some("""WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds,
          ROUND(SUM(value), 2) AS v
        FROM events GROUP BY 1, 2),
      z AS (SELECT event_type, ds, v,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ds) AS rn
        FROM daily),
      h AS (
        SELECT event_type, ds, rn, v, v AS l, 0.0::DOUBLE AS b, v AS f
        FROM z WHERE rn = 1
        UNION ALL
        SELECT z.event_type, z.ds, z.rn, z.v,
          0.5 * z.v + 0.5 * (h.l + h.b),
          0.3 * ((0.5 * z.v + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b,
          h.l + h.b
        FROM z JOIN h ON z.event_type = h.event_type AND z.rn = h.rn + 1)
      SELECT event_type, ds, v, ROUND(l, 4) AS level,
        ROUND(b, 4) AS trend, ROUND(f, 4) AS forecast,
        ROUND(v - f, 4) AS err
      FROM h ORDER BY 1, 2"""),
    (s, d) => holtDaily(events(s, d)))

  /** The q229 plan over any (event_type, ts, value) frame —
    * SeriesSpec hand-traces the recurrence and pins trend capture on
    * a planted linear ramp. */
  def holtDaily(ev: DataFrame): DataFrame = {
    ev.groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(round(sum(col("value")), 2).as("v"))
      .select(col("event_type"), struct(col("ds"), col("v")).as("e"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("e"))).as("series"))
      .withColumn("run", expr(
        """aggregate(series,
             cast(array() as array<struct<ds:date, v:double, l:double,
                                          b:double, f:double>>),
             (acc, e) -> array_append(acc, if(size(acc) = 0,
               named_struct('ds', e.ds, 'v', e.v, 'l', e.v,
                 'b', cast(0.0 as double), 'f', e.v),
               named_struct('ds', e.ds, 'v', e.v,
                 'l', 0.5d * e.v + 0.5d * (acc[size(acc) - 1].l
                        + acc[size(acc) - 1].b),
                 'b', 0.3d * ((0.5d * e.v + 0.5d * (acc[size(acc) - 1].l
                        + acc[size(acc) - 1].b)) - acc[size(acc) - 1].l)
                      + 0.7d * acc[size(acc) - 1].b,
                 'f', acc[size(acc) - 1].l + acc[size(acc) - 1].b))))"""))
      .select(col("event_type"), explode(col("run")).as("r"))
      .select(col("event_type"), col("r.ds").as("ds"), col("r.v").as("v"),
        round(col("r.l"), 4).as("level"), round(col("r.b"), 4).as("trend"),
        round(col("r.f"), 4).as("forecast"),
        round(col("r.v") - col("r.f"), 4).as("err"))
      .orderBy(col("event_type"), col("ds"))
  }

  /** Page–Hinkley sequential drift test (δ=0.05, λ=3) on standardized
    * daily sums — the one-sided mean-increase alarm q201's CUSUM
    * family lacks (PH tracks deviation from the RUNNING mean, so it
    * self-calibrates as the series grows; CUSUM needs the target mean
    * up front). Convention pinned here and mirrored in the oracle:
    * m_t = m_{t−1} + (z_t − mean(z_1..z_t) − δ) with m_0 = 0,
    * M_t = min(m_1..m_t), alarm when m_t − M_t > λ. The running mean
    * makes the state (n, Σz, m, M) — four coupled scalars, folded
    * through one lambda per type (the q201 argument); standardization
    * mu/sd is the only distributed float (4dp round absorbs it, q201
    * precedent).
    */
  val q230PageHinkley = GraftQuery(
    "q230_page_hinkley",
    "Page-Hinkley drift test (δ=0.05, λ=3) over standardized daily sums",
    Some("""WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds,
          ROUND(SUM(value), 2) AS v
        FROM events GROUP BY 1, 2),
      st AS (SELECT event_type, AVG(v) AS mu, STDDEV_SAMP(v) AS sd
        FROM daily GROUP BY 1),
      z AS (SELECT daily.event_type, ds, (v - mu) / sd AS z,
          ROW_NUMBER() OVER (PARTITION BY daily.event_type ORDER BY ds)
            AS rn
        FROM daily JOIN st ON daily.event_type = st.event_type),
      ph AS (
        SELECT event_type, ds, rn, z AS s, z - z - 0.05 AS m,
          z - z - 0.05 AS mm
        FROM z WHERE rn = 1
        UNION ALL
        SELECT z.event_type, z.ds, z.rn, ph.s + z.z,
          ph.m + (z.z - (ph.s + z.z) / z.rn - 0.05),
          LEAST(ph.mm, ph.m + (z.z - (ph.s + z.z) / z.rn - 0.05))
        FROM z JOIN ph ON z.event_type = ph.event_type
          AND z.rn = ph.rn + 1)
      SELECT event_type, ds, ROUND(m, 4) AS m, ROUND(m - mm, 4) AS ph,
        CAST(CASE WHEN m - mm > 3 THEN 1 ELSE 0 END AS INTEGER) AS alarm
      FROM ph ORDER BY 1, 2"""),
    (s, d) => pageHinkley(events(s, d)))

  /** The q230 pipeline over any (event_type, ts, value) frame —
    * SeriesSpec pins the alarm on a planted level shift (the
    * stationary fixture never trips λ=3). */
  def pageHinkley(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(round(sum(col("value")), 2).as("v"))
    val st = daily.groupBy(col("event_type"))
      .agg(avg(col("v")).as("mu"), stddev_samp(col("v")).as("sd"))
    daily.join(broadcast(st), Seq("event_type"))
      .select(col("event_type"),
        struct(col("ds"), ((col("v") - col("mu")) / col("sd")).as("z"))
          .as("e"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("e"))).as("series"))
      .withColumn("run", expr(
        // acc: running (n, s=Σz, m, mm=min m) + the emitted rows; the
        // first day reduces to m = −δ because mean(z_1) = z_1
        """aggregate(series,
             named_struct('n', 0L, 's', cast(0.0 as double),
               'm', cast(0.0 as double), 'mm', cast(0.0 as double),
               'out', cast(array() as array<struct<ds:date, m:double,
                                                   ph:double>>)),
             (acc, e) -> named_struct(
               'n', acc.n + 1L,
               's', acc.s + e.z,
               'm', acc.m + (e.z - (acc.s + e.z) / (acc.n + 1L) - 0.05d),
               'mm', if(acc.n = 0L,
                 acc.m + (e.z - (acc.s + e.z) / (acc.n + 1L) - 0.05d),
                 least(acc.mm, acc.m + (e.z - (acc.s + e.z)
                   / (acc.n + 1L) - 0.05d))),
               'out', array_append(acc.out, named_struct(
                 'ds', e.ds,
                 'm', acc.m + (e.z - (acc.s + e.z) / (acc.n + 1L) - 0.05d),
                 'ph', acc.m + (e.z - (acc.s + e.z) / (acc.n + 1L) - 0.05d)
                   - if(acc.n = 0L,
                       acc.m + (e.z - (acc.s + e.z) / (acc.n + 1L) - 0.05d),
                       least(acc.mm, acc.m + (e.z - (acc.s + e.z)
                         / (acc.n + 1L) - 0.05d)))))),
             acc -> acc.out)"""))
      .select(col("event_type"), explode(col("run")).as("r"))
      .select(col("event_type"), col("r.ds").as("ds"),
        round(col("r.m"), 4).as("m"), round(col("r.ph"), 4).as("ph"),
        (col("r.ph") > 3.0).cast("int").as("alarm"))
      .orderBy(col("event_type"), col("ds"))
  }

  /** Rolling z-score anomaly screen — each day scored against the
    * trailing 7 days' mean/sd (rows between 7 and 1 preceding; never
    * the current day, so a spike can't mask itself). The windowed twin
    * of q226's global MAD fence: MAD finds level outliers over the
    * whole history, the rolling z finds days that break from their
    * RECENT regime even when the global distribution looks calm.
    * Scores need ≥3 trailing days and sd > 0 (else NULL — the
    * convention both engines share). The window runs on the daily
    * table partitioned by type — calendar-bounded rows, never events
    * (the q214 ACF argument).
    */
  val q231RollingZ = GraftQuery(
    "q231_rolling_z",
    "trailing-7-day rolling z-score anomaly flags over daily sums",
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds,
          ROUND(SUM(value), 2) AS v
        FROM events GROUP BY 1, 2),
      w AS (
        SELECT event_type, ds, v,
          AVG(v) OVER win AS rmean,
          STDDEV_SAMP(v) OVER win AS rsd,
          COUNT(*) OVER win AS n_win
        FROM daily
        WINDOW win AS (PARTITION BY event_type ORDER BY ds
          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      SELECT event_type, ds, v, CAST(n_win AS BIGINT) AS n_win,
        ROUND(rmean, 4) AS rmean, ROUND(rsd, 4) AS rsd,
        CASE WHEN n_win >= 3 AND rsd > 0
          THEN ROUND((v - rmean) / rsd, 4) END AS z,
        CAST(CASE WHEN n_win >= 3 AND rsd > 0
          AND abs((v - rmean) / rsd) > 2 THEN 1 ELSE 0 END AS INTEGER)
          AS anomaly
      FROM w ORDER BY 1, 2"""),
    (s, d) => rollingZ(events(s, d)))

  /** The q231 plan over any (event_type, ts, value) frame —
    * SeriesSpec pins a planted regime break the global fence misses. */
  def rollingZ(ev: DataFrame): DataFrame = {
    val win = Window.partitionBy(col("event_type")).orderBy(col("ds"))
      .rowsBetween(-7, -1)
    ev.groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(round(sum(col("value")), 2).as("v"))
      .withColumn("rmean", avg(col("v")).over(win))
      .withColumn("rsd", stddev_samp(col("v")).over(win))
      .withColumn("n_win", count(lit(1)).over(win))
      .select(col("event_type"), col("ds"), col("v"),
        col("n_win").cast("long").as("n_win"),
        round(col("rmean"), 4).as("rmean"), round(col("rsd"), 4).as("rsd"),
        when(col("n_win") >= 3 && col("rsd") > 0,
          round((col("v") - col("rmean")) / col("rsd"), 4)).as("z"),
        (col("n_win") >= 3 && col("rsd") > 0 &&
          abs((col("v") - col("rmean")) / col("rsd")) > 2)
          .cast("int").as("anomaly"))
      .orderBy(col("event_type"), col("ds"))
  }

  /** Mann–Kendall monotone-trend test + Kendall tau-b per event type —
    * the nonparametric "is this series drifting?" verdict that
    * complements q230's sequential alarm (PH says WHEN it moved; MK
    * says WHETHER the whole history trends, distribution-free). The
    * sign statistic S = Σ_{i<j} sgn(v_j − v_i) is a pair join over the
    * DAILY table — a calendar-bounded labelled quadratic (days²/2
    * pairs per type, the q214 ACF argument), never event rows. Tie
    * correction over the (type, v) group sizes; Z uses the standard
    * ±1 continuity correction; tau-b divides by the tie-adjusted pair
    * count (days are distinct so the time ranking is tie-free). Daily
    * sums rounded 2dp first (q226 convention) — S and the tie table
    * are then INTEGER-exact in both engines.
    */
  val q234MannKendall = GraftQuery(
    "q234_mann_kendall",
    "Mann-Kendall trend test + Kendall tau-b over daily event sums",
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds,
          ROUND(SUM(value), 2) AS v
        FROM events GROUP BY 1, 2),
      s AS (
        SELECT a.event_type,
          SUM(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1
            ELSE 0 END) AS s
        FROM daily a JOIN daily b ON a.event_type = b.event_type
          AND a.ds < b.ds
        GROUP BY 1),
      n AS (SELECT event_type, COUNT(*) AS n FROM daily GROUP BY 1),
      ties AS (
        SELECT event_type,
          COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tv,
          COALESCE(SUM(t * (t - 1) / 2), 0) AS tp
        FROM (SELECT event_type, v, COUNT(*) AS t FROM daily
          GROUP BY 1, 2) g
        WHERE t > 1 GROUP BY 1),
      mk AS (
        SELECT n.event_type, n.n, s.s,
          (n.n * (n.n - 1) * (2 * n.n + 5)
            - COALESCE(ties.tv, 0)) / 18.0 AS var_s,
          COALESCE(ties.tp, 0) AS tp
        FROM n JOIN s ON n.event_type = s.event_type
        LEFT JOIN ties ON n.event_type = ties.event_type)
      SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
        ROUND(var_s, 4) AS var_s,
        ROUND(s / sqrt((n * (n - 1) / 2.0 - tp) * (n * (n - 1) / 2.0)),
          4) AS tau_b,
        ROUND(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
          WHEN s < 0 THEN (s + 1) / sqrt(var_s) ELSE 0 END, 4) AS z,
        CAST(CASE WHEN abs(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
          WHEN s < 0 THEN (s + 1) / sqrt(var_s) ELSE 0 END) > 1.96
          THEN 1 ELSE 0 END AS INTEGER) AS trend
      FROM mk ORDER BY 1"""),
    (s, d) => mannKendall(events(s, d)))

  /** The q234 pipeline over any (event_type, ts, value) frame —
    * SeriesSpec hand-traces S with ties and pins the monotone-ramp
    * verdict. */
  def mannKendall(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(round(sum(col("value")), 2).as("v"))
      .localCheckpoint(false) // feeds the pair join (twice) + tie table
    val a = daily.toDF("event_type", "ds_a", "va")
    val b = daily.toDF("event_type", "ds_b", "vb")
    val s = a.join(b, Seq("event_type"))
      .where(col("ds_a") < col("ds_b"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("vb") > col("va"), 1)
        .when(col("vb") < col("va"), -1).otherwise(0)).as("s"))
    val n = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val ties = daily.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("t"))
      .where(col("t") > 1)
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
        .as("tv"),
        sum(col("t") * (col("t") - 1) / 2).as("tp"))
    val mk = n.join(s, Seq("event_type"))
      .join(ties, Seq("event_type"), "left")
      .select(col("event_type"), col("n"), col("s"),
        ((col("n") * (col("n") - 1) * (lit(2) * col("n") + 5)
          - coalesce(col("tv"), lit(0L))) / 18.0).as("var_s"),
        coalesce(col("tp"), lit(0L)).cast("double").as("tp"))
    val zc = when(col("s") > 0, (col("s") - 1) / sqrt(col("var_s")))
      .when(col("s") < 0, (col("s") + 1) / sqrt(col("var_s")))
      .otherwise(lit(0.0))
    mk.select(col("event_type"), col("n").cast("long").as("n"),
      col("s").cast("long").as("s"), round(col("var_s"), 4).as("var_s"),
      round(col("s") / sqrt((col("n") * (col("n") - 1) / 2.0 - col("tp"))
        * (col("n") * (col("n") - 1) / 2.0)), 4).as("tau_b"),
      round(zc, 4).as("z"),
      (abs(zc) > 1.96).cast("int").as("trend"))
      .orderBy(col("event_type"))
  }

  /** Binary-segmentation changepoint LOCALIZATION per event type — the
    * missing third of the drift family: q201/q230 detect THAT a series
    * moved, this finds WHERE. One split: the day t maximizing the SSE
    * reduction n_l·n_r/n · (μ_l − μ_r)² — the exact single-changepoint
    * least-squares fit, and the recursion step of full binary
    * segmentation. Every candidate split's reduction comes from ONE
    * cumulative-sum window over the daily table (calendar-bounded, the
    * q122/q201 argument) in INTEGER CENTS — a float cumsum hit a
    * half-ulp rounding boundary against DuckDB's tree-aggregated
    * window sum on this very fixture, integer prefixes can't. The
    * output means are emitted UNROUNDED: cents/t is rational with a
    * small denominator, so 4dp display rounding lands exactly on
    * .xxxx5 boundaries where the two engines' ROUND-of-double
    * conventions split — the raw doubles are bit-identical (scalar
    * math over integer cents), which the round-11 unrounded gate
    * compares byte-exactly. The argmax ranks at 9dp (the q215/q241 dust
    * convention) with the EARLIEST day winning ties. Reported shift is
    * μ_r − μ_l at the best split.
    */
  val q242Binseg = GraftQuery(
    "q242_binseg",
    "binary-segmentation changepoint: argmax SSE-reduction split per type",
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds,
          CAST(ROUND(SUM(value) * 100) AS BIGINT) AS vc
        FROM events GROUP BY 1, 2),
      cum AS (
        SELECT event_type, ds,
          ROW_NUMBER() OVER w AS t, SUM(vc) OVER w AS cs,
          COUNT(*) OVER (PARTITION BY event_type) AS n,
          SUM(vc) OVER (PARTITION BY event_type) AS s
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY ds)),
      red AS (
        SELECT event_type, ds, t, n,
          cs / 100.0 / t AS ml, (s - cs) / 100.0 / (n - t) AS mr,
          t * (n - t) * 1.0 / n
            * (cs / 100.0 / t - (s - cs) / 100.0 / (n - t))
            * (cs / 100.0 / t - (s - cs) / 100.0 / (n - t)) AS reduction
        FROM cum WHERE t < n),
      best AS (
        SELECT event_type, ds, t, n, ml, mr, reduction,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY ROUND(reduction, 9) DESC, ds) AS rn
        FROM red)
      SELECT event_type, CAST(n AS BIGINT) AS n_days, ds AS split_ds,
        CAST(t AS BIGINT) AS split_t, ml AS mean_left,
        mr AS mean_right, mr - ml AS shift, reduction
      FROM best WHERE rn = 1 ORDER BY 1"""),
    (s, d) => binseg(events(s, d)))

  /** The q242 pipeline over any (event_type, ts, value) frame —
    * SeriesSpec pins exact localization of a planted step. */
  def binseg(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ds"))
    val wAll = Window.partitionBy(col("event_type"))
    val cum = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(round(sum(col("value")) * 100).cast("bigint").as("vc"))
      .select(col("event_type"), col("ds"),
        row_number().over(w).as("t"), sum(col("vc")).over(w).as("cs"),
        count(lit(1)).over(wAll).as("n"), sum(col("vc")).over(wAll).as("s"))
    val red = cum.where(col("t") < col("n"))
      .select(col("event_type"), col("ds"), col("t"), col("n"),
        (col("cs") / 100.0 / col("t")).as("ml"),
        ((col("s") - col("cs")) / 100.0 / (col("n") - col("t"))).as("mr"))
      .withColumn("reduction",
        col("t") * (col("n") - col("t")) * 1.0 / col("n")
          * (col("ml") - col("mr")) * (col("ml") - col("mr")))
    val wBest = Window.partitionBy(col("event_type"))
      .orderBy(round(col("reduction"), 9).desc, col("ds"))
    red.withColumn("rn", row_number().over(wBest))
      .where(col("rn") === 1)
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        col("ds").as("split_ds"), col("t").cast("long").as("split_t"),
        col("ml").as("mean_left"), col("mr").as("mean_right"),
        (col("mr") - col("ml")).as("shift"), col("reduction"))
      .orderBy(col("event_type"))
  }

  /** Additive Holt–Winters (α=0.5, β=0.3, γ=0.2, weekly m=7) — the
    * seasonal member q229's linear form can't express: the standing
    * one-step forecast is l+b+s[slot], the level update first
    * DE-seasonALIZES the observation (l' = α(v−s[slot]) + (1−α)(l+b)),
    * and the slot's seasonal state refreshes from the residual
    * (s' = γ(v−l') + (1−γ)s). Slots cycle (rn−1) mod 7 — row-order
    * slots, not calendar weekday, so a gappy series keeps a full
    * 7-phase rotation. Init: l=v₁, b=0, s≡0 (additive seasonal
    * states warm up from zero; the spec measures the warm-up). State
    * is (l, b, s[7]) — nine coupled scalars folded through one
    * lambda per type exactly like q229/q230; the oracle replays the
    * identical recurrence as a recursive CTE carrying the seasonal
    * LIST in the recursion. The reported `seasonal` column is the
    * slot value USED by that day's forecast (pre-update).
    */
  val q261HoltWinters = GraftQuery(
    "q261_holt_winters",
    "additive Holt-Winters (α=0.5, β=0.3, γ=0.2, m=7) over daily event sums",
    Some("""WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds,
          ROUND(SUM(value), 2) AS v
        FROM events GROUP BY 1, 2),
      z AS (SELECT event_type, ds, v,
          ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ds) AS rn
        FROM daily),
      hw AS (
        SELECT event_type, ds, rn, v, v AS l, 0.0::DOUBLE AS b,
          [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]::DOUBLE[] AS sn,
          0.0::DOUBLE AS si, v AS f
        FROM z WHERE rn = 1
        UNION ALL
        SELECT z.event_type, z.ds, z.rn, z.v,
          0.5 * (z.v - hw.sn[(hw.rn % 7) + 1]) + 0.5 * (hw.l + hw.b),
          0.3 * ((0.5 * (z.v - hw.sn[(hw.rn % 7) + 1])
            + 0.5 * (hw.l + hw.b)) - hw.l) + 0.7 * hw.b,
          list_transform(range(7), i -> CASE WHEN i = hw.rn % 7
            THEN 0.2 * (z.v - (0.5 * (z.v - hw.sn[(hw.rn % 7) + 1])
              + 0.5 * (hw.l + hw.b))) + 0.8 * hw.sn[(hw.rn % 7) + 1]
            ELSE hw.sn[i + 1] END),
          hw.sn[(hw.rn % 7) + 1],
          hw.l + hw.b + hw.sn[(hw.rn % 7) + 1]
        FROM z JOIN hw ON z.event_type = hw.event_type
          AND z.rn = hw.rn + 1)
      SELECT event_type, ds, v, ROUND(l, 4) AS level,
        ROUND(b, 4) AS trend, ROUND(si, 4) AS seasonal,
        ROUND(f, 4) AS forecast, ROUND(v - f, 4) AS err
      FROM hw ORDER BY 1, 2"""),
    (s, d) => holtWinters(events(s, d)))

  /** The q261 pipeline over any (event_type, ts, value) frame —
    * SeriesSpec replays the recurrence in plain Scala row-for-row and
    * pins seasonal capture on a planted 7-periodic pattern. */
  def holtWinters(ev: DataFrame): DataFrame = {
    val si = "element_at(acc.sn, int(pmod(acc.n, 7)) + 1)"
    val l2 = s"0.5d * (e.v - $si) + 0.5d * (acc.l + acc.b)"
    val b2 = s"0.3d * (($l2) - acc.l) + 0.7d * acc.b"
    val s2 = s"0.2d * (e.v - ($l2)) + 0.8d * $si"
    ev.groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(round(sum(col("value")), 2).as("v"))
      .select(col("event_type"), struct(col("ds"), col("v")).as("e"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(col("e"))).as("series"))
      .withColumn("run", expr(
        s"""aggregate(series,
             named_struct(
               'rows', cast(array() as array<struct<ds:date, v:double,
                 l:double, b:double, si:double, f:double>>),
               'l', cast(0.0 as double), 'b', cast(0.0 as double),
               'sn', array_repeat(cast(0.0 as double), 7), 'n', 0),
             (acc, e) -> if(acc.n = 0,
               named_struct(
                 'rows', array(named_struct('ds', e.ds, 'v', e.v,
                   'l', e.v, 'b', cast(0.0 as double),
                   'si', cast(0.0 as double), 'f', e.v)),
                 'l', e.v, 'b', cast(0.0 as double), 'sn', acc.sn, 'n', 1),
               named_struct(
                 'rows', array_append(acc.rows, named_struct('ds', e.ds,
                   'v', e.v, 'l', $l2, 'b', $b2, 'si', $si,
                   'f', acc.l + acc.b + $si)),
                 'l', $l2, 'b', $b2,
                 'sn', transform(sequence(0, 6),
                   i -> if(i = pmod(acc.n, 7), $s2,
                     element_at(acc.sn, i + 1))),
                 'n', acc.n + 1)),
             acc -> acc.rows)"""))
      .select(col("event_type"), explode(col("run")).as("r"))
      .select(col("event_type"), col("r.ds").as("ds"), col("r.v").as("v"),
        round(col("r.l"), 4).as("level"), round(col("r.b"), 4).as("trend"),
        round(col("r.si"), 4).as("seasonal"),
        round(col("r.f"), 4).as("forecast"),
        round(col("r.v") - col("r.f"), 4).as("err"))
      .orderBy(col("event_type"), col("ds"))
  }

  /** Gumbel extreme-value fit over daily block maxima per event type
    * — the capacity-planning readout ("what single-event spike should
    * a day absorb?") none of the mean-centric monitors answer.
    * Method-of-moments on the daily-max series: scale
    * β = s·√6/π, location μ = m̄ − γβ (γ = 0.5772156649015329, a
    * shared literal), return level x_T = μ − β·ln(−ln(1−1/T)) for
    * the 30-day and 365-day horizons (a literal grid). Two moments
    * and closed-form arithmetic — the corpus crosses one (type, day)
    * shuffle, daily maxima rounded 2dp first (q226 convention).
    */
  val q278Gumbel = GraftQuery(
    "q278_gumbel",
    "Gumbel block-maxima fit per event type: scale, location, 30/365-day return levels",
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds,
          ROUND(MAX(value), 2) AS m
        FROM events GROUP BY 1, 2),
      mo AS (
        SELECT event_type, COUNT(*) AS n, AVG(m) AS mbar,
          STDDEV_SAMP(m) AS s
        FROM daily GROUP BY 1),
      fit AS (
        SELECT event_type, n, mbar, s,
          s * sqrt(6) / pi() AS beta,
          mbar - 0.5772156649015329 * (s * sqrt(6) / pi()) AS mu
        FROM mo)
      SELECT event_type, CAST(n AS BIGINT) AS n_days,
        ROUND(mu, 4) AS mu, ROUND(beta, 4) AS beta,
        ROUND(mu - beta * ln(-ln(1 - 1.0 / 30)), 4) AS rl_30d,
        ROUND(mu - beta * ln(-ln(1 - 1.0 / 365)), 4) AS rl_365d
      FROM fit ORDER BY 1"""),
    (s, d) => gumbel(events(s, d)))

  /** The q278 pipeline — SeriesSpec pins the MoM inversion (a series
    * with known mean/sd recovers μ/β exactly) and return-level
    * monotonicity (rl_365 > rl_30 > μ). */
  def gumbel(ev: DataFrame): DataFrame = {
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(round(max(col("value")), 2).as("m"))
    val beta = col("s") * sqrt(lit(6)) / lit(math.Pi)
    val mu = col("mbar") - lit(0.5772156649015329) * beta
    def rl(t: Double) =
      mu - beta * log(-log(lit(1) - lit(1.0) / t))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("m")).as("mbar"),
        stddev_samp(col("m")).as("s"))
      .select(col("event_type"), col("n").cast("long").as("n_days"),
        round(mu, 4).as("mu"), round(beta, 4).as("beta"),
        round(rl(30), 4).as("rl_30d"), round(rl(365), 4).as("rl_365d"))
      .orderBy(col("event_type"))
  }
}
