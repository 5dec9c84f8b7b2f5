package graft.queries

import org.apache.spark.sql.functions._

import graft.model.Tables._

/** Model-evaluation wave: the measurement harness a training pipeline
  * hangs AFTER its models — probability calibration (reliability bins,
  * ECE, Brier), distribution-free prediction intervals (split
  * conformal), and scale-free forecast-error benchmarking (MASE).
  * The reference evaluates every model it fits (MSE music.md:377-387,
  * hit-rate probe book.md:89-99); this wave is those probes grown into
  * the standard eval statistics, each as a bounded-aggregate plan.
  *
  * Shared design rule: every statistic is computed from GROUP SUMS,
  * never row collections — Brier from (Σs², Σsy, Σy), conformal on
  * integer cents so rank selection is ulp-proof, MASE on the
  * calendar-bounded daily table. Nothing here holds per-row state
  * past its one shuffle.
  */
object EvalQueries {

  def queries: Seq[GraftQuery] = Seq(q217Calibration, q218Conformal,
    q219Mase, q223Auc, q224Psi, q225Jackknife, q226MadOutliers,
    q227CvFolds, q228LearningCurve, q238PoissonBootstrap)

  /** Reliability-bin calibration of a transparent return-risk score.
    * The score is RATIONAL arithmetic only (least/+/×/÷ — no
    * exp/ln), so both engines produce bit-identical doubles and the
    * decile binning can't flip a boundary row; ECE and Brier both
    * derive from the 7 bins' (n, Σs, Σy, Σs², Σsy) — Brier =
    * (Σs² − 2Σsy + Σy)/N because y is 0/1 — so the corpus crosses
    * exactly one 7-row shuffle regardless of scale.
    *
    * All five ratio emissions (conf/acc/gap/ece/brier) round through
    * the VARCHAR→DECIMAL half-up idiom (round-11 ADVICE): given
    * bit-identical ratio doubles — the typical case here — a plain
    * DuckDB ROUND still splits from Spark's shortest-repr half-up on
    * half-boundary reprs. The double SUMs beneath the ratios remain
    * the order-dependent residual class (DoubleSums registry), where
    * dust is sub-ulp at these bin sizes and the off-point sweep is
    * the backstop.
    */
  val q217Calibration = GraftQuery(
    "q217_calibration",
    "reliability bins + ECE + Brier of a rational return-risk score",
    Some("""WITH b AS (
        SELECT s, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
          CAST(floor(s * 10) AS INTEGER) AS bin
        FROM (SELECT least(0.99, 0.05 + l_discount * 3 + l_quantity / 200.0)
            AS s, l_returnflag FROM lineitem)),
      g AS (
        SELECT bin, COUNT(*) AS n, SUM(s) AS ss, SUM(y) AS sy,
          SUM(s * s) AS ss2, SUM(s * y) AS ssy
        FROM b GROUP BY 1),
      t AS (
        SELECT SUM(n) AS nn,
          SUM(abs(sy * 1.0 / n - ss / n) * n) AS gap_w,
          SUM(ss2 - 2 * ssy + sy) AS br
        FROM g)
      SELECT bin, CAST(n AS BIGINT) AS n,
        CAST(ROUND(CAST(CAST(ss / n AS VARCHAR)
          AS DECIMAL(38,18)), 6) AS DOUBLE) AS conf,
        CAST(ROUND(CAST(CAST(sy * 1.0 / n AS VARCHAR)
          AS DECIMAL(38,18)), 6) AS DOUBLE) AS acc,
        CAST(ROUND(CAST(CAST(abs(sy * 1.0 / n - ss / n) AS VARCHAR)
          AS DECIMAL(38,18)), 6) AS DOUBLE) AS gap,
        CAST(ROUND(CAST(CAST(t.gap_w / t.nn AS VARCHAR)
          AS DECIMAL(38,18)), 6) AS DOUBLE) AS ece,
        CAST(ROUND(CAST(CAST(t.br / t.nn AS VARCHAR)
          AS DECIMAL(38,18)), 6) AS DOUBLE) AS brier
      FROM g, t ORDER BY bin"""),
    (s, d) => calibration(lineitem(s, d).select(
      least(lit(0.99), lit(0.05) + col("l_discount") * 3 +
        col("l_quantity") / 200.0).as("s"),
      when(col("l_returnflag") === "R", 1).otherwise(0).as("y"))))

  /** The q217 plan over any (s: double, y: 0/1) frame — EvalSpec pins
    * the ECE weighting and the sum-form Brier against a hand trace. */
  def calibration(base: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val g = base
        .select(col("s"), col("y"), floor(col("s") * 10).cast("int").as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("s")).as("ss"),
          sum(col("y")).as("sy"), sum(col("s") * col("s")).as("ss2"),
          sum(col("s") * col("y")).as("ssy"))
      val t = g.agg(sum(col("n")).as("nn"),
        sum(abs(col("sy") / col("n") - col("ss") / col("n")) * col("n"))
          .as("gap_w"),
        sum(col("ss2") - lit(2) * col("ssy") + col("sy")).as("br"))
      g.crossJoin(broadcast(t))
        .select(col("bin"), col("n").cast("long").as("n"),
          round(col("ss") / col("n"), 6).as("conf"),
          round(col("sy") / col("n"), 6).as("acc"),
          round(abs(col("sy") / col("n") - col("ss") / col("n")), 6)
            .as("gap"),
          round(col("gap_w") / col("nn"), 6).as("ece"),
          round(col("br") / col("nn"), 6).as("brier"))
        .orderBy(col("bin"))
  }

  /** Split-conformal prediction intervals per return flag, all in
    * INTEGER CENTS: the md5 three-way split assigns train/cal/test;
    * the "model" is the train-half's integer-division mean price; the
    * calibration quantile q̂ is the ⌈0.9(n+1)⌉-th smallest absolute
    * residual — an exact integer rank over integers, so no float
    * ordering can diverge between engines (the q120 rounded-key rule,
    * taken to its limit); coverage on the held-out test rows lands at
    * the guaranteed ≥ 0.9. The rank is read off the residual VALUE
    * DISTRIBUTION (one hash aggregate + a domain-bounded cumulative
    * count — the q206/q223 shape), NOT a sort or per-group window over
    * the calibration rows, so a billion-row calibration set costs one
    * map-side-combined aggregate; everything else is one aggregate per
    * split.
    */
  val q218Conformal = GraftQuery(
    "q218_conformal",
    "split-conformal price interval per return flag, integer-cent exact",
    Some("""WITH b AS (
        SELECT l_returnflag AS flag,
          CAST(ROUND(CAST(CAST(l_extendedprice * 100 AS VARCHAR)
            AS DECIMAL(38,18)), 0) AS BIGINT) AS cents,
          l_orderkey AS ok, l_linenumber AS ln,
          CAST('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
            AS VARCHAR)), 1, 8) AS UBIGINT) % 3 AS split
        FROM lineitem),
      pred AS (
        SELECT flag, CAST(SUM(cents) // COUNT(*) AS BIGINT) AS p,
          COUNT(*) AS n_train
        FROM b WHERE split = 0 GROUP BY 1),
      cal AS (
        SELECT b.flag, abs(b.cents - pred.p) AS r, b.ok, b.ln
        FROM b JOIN pred USING (flag) WHERE split = 1),
      cn AS (SELECT flag, COUNT(*) AS n_cal FROM cal GROUP BY 1),
      ranked AS (
        SELECT flag, r, ROW_NUMBER() OVER (PARTITION BY flag
          ORDER BY r, ok, ln) AS rn
        FROM cal),
      qhat AS (
        SELECT cn.flag, cn.n_cal, ranked.r AS q
        FROM cn JOIN ranked ON ranked.flag = cn.flag
          AND ranked.rn = least(CAST(ceil(0.9 * (cn.n_cal + 1)) AS BIGINT),
            cn.n_cal)),
      test AS (
        SELECT b.flag, COUNT(*) AS n_test,
          SUM(CASE WHEN abs(b.cents - pred.p) <= qhat.q THEN 1 ELSE 0 END)
            AS hits
        FROM b JOIN pred USING (flag) JOIN qhat ON qhat.flag = b.flag
        WHERE split = 2 GROUP BY 1)
      SELECT pred.flag, CAST(pred.n_train AS BIGINT) AS n_train,
        CAST(qhat.n_cal AS BIGINT) AS n_cal,
        CAST(test.n_test AS BIGINT) AS n_test,
        ROUND(pred.p / 100.0, 2) AS pred_price,
        ROUND(qhat.q / 100.0, 2) AS q_width,
        CAST(ROUND(CAST(CAST(test.hits * 1.0 / test.n_test AS VARCHAR)
          AS DECIMAL(38,18)), 6) AS DOUBLE) AS coverage
      FROM pred JOIN qhat ON qhat.flag = pred.flag
        JOIN test ON test.flag = pred.flag
      ORDER BY pred.flag"""),
    (s, d) => conformal(lineitem(s, d).select(
      col("l_returnflag").as("flag"),
      round(col("l_extendedprice") * 100).cast("bigint").as("cents"),
      col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
      // md5_prefix32 ≡ the oracle's conv(substring(md5(…),1,8),16,10)
      // without the hex-string round-trip (Md5PrefixSpec pins equality)
      (graft.functions.Md5Prefix.md5_prefix32(
        col("l_orderkey") * 10 + col("l_linenumber")) % 3).as("split"))))

  /** The q218 plan over any (flag, cents, ok, ln, split: 0/1/2) frame
    * — EvalSpec pins the ⌈0.9(n+1)⌉ rank choice including the
    * k > n_cal clamp against hand residual sets. */
  def conformal(in: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      // feeds train, cal, test subtrees. Only the three columns the
      // plan reads are checkpointed: the histogram-rank form below
      // made the (ok, ln) tie-break columns dead weight — the k-th
      // order statistic is tie-break-independent. Round-12: the
      // spread that used to precede this checkpoint was REMOVED after
      // an A/B (3.3–4.0 s → 2.4–2.5 s at sf0.1): unlike q238 there is
      // no explode downstream — every consumer is a map-combined
      // aggregate, so the round-robin exchange (plus its
      // sort-before-repartition pass) cost more than the 3-partition
      // checkpoint write it widened; at cluster scale spread is a
      // probe-elided no-op on this scan-rooted frame anyway, so the
      // plan at 100 TB is unchanged.
      val b = in.select(col("flag"), col("cents"), col("split"))
        .localCheckpoint(false)
      val pred = b.where(col("split") === 0).groupBy(col("flag"))
        .agg(sum(col("cents")).as("sc"), count(lit(1)).as("n_train"))
        .select(col("flag"), expr("sc div n_train").as("p"), col("n_train"))
        .localCheckpoint(false) // 3 rows, consumed by cal/test/output
      // no checkpoint here: cal re-derives cheaply (filter + broadcast
      // join) from the checkpointed base, and its one consumer is the
      // histogram below, itself checkpointed
      val cal = b.where(col("split") === 1).join(broadcast(pred), Seq("flag"))
        .select(col("flag"), abs(col("cents") - col("p")).as("r"))
      // exact per-flag rank WITHOUT sorting the calibration set: the
      // k-th order STATISTIC is tie-break-independent, so read it off
      // the residual VALUE DISTRIBUTION (the q206/q223 argument) — one
      // hash aggregate to (flag, r) counts, whose row count is bounded
      // by the residual DOMAIN (|cents| values), never the corpus, then
      // a per-flag cumulative count locates the first value whose
      // running total reaches k = min(⌈0.9(n_cal+1)⌉, n_cal). Replaces
      // the GlobalRank range-partition sort of all cal rows — one
      // fewer corpus pass and no range-boundary collect; the round-12
      // stage profile puts the query's floor in the split-hash
      // checkpoint (~55%), not the rank, so the fixture-level win is
      // modest (COVERAGE.md round-12 A/B) — the form is kept for the
      // scale shape: a hash aggregate beats a sort at any width.
      // n_cal folds out of the same histogram instead of a second pass.
      val hist = cal.groupBy(col("flag"), col("r")).agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // feeds n_cal AND the cumulative scan
      val cn = hist.groupBy(col("flag")).agg(sum(col("c")).as("n_cal"))
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy(col("flag")).orderBy(col("r"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val qhat = hist.withColumn("cum", sum(col("c")).over(wCum))
        .join(broadcast(cn), Seq("flag"))
        .withColumn("k", least(
          ceil(lit(0.9) * (col("n_cal") + 1)).cast("long"), col("n_cal")))
        .where(col("cum") >= col("k") && col("cum") - col("c") < col("k"))
        .select(col("flag"), col("n_cal"), col("r").as("q"))
        .localCheckpoint(false) // 3 rows; don't re-run the scan twice
      val test = b.where(col("split") === 2)
        .join(broadcast(pred.select(col("flag"), col("p"))), Seq("flag"))
        .join(broadcast(qhat.select(col("flag"), col("q"))), Seq("flag"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(abs(col("cents") - col("p")) <= col("q"), 1)
            .otherwise(0)).as("hits"))
      pred.join(qhat, Seq("flag")).join(test, Seq("flag"))
        .select(col("flag"), col("n_train").cast("long").as("n_train"),
          col("n_cal").cast("long").as("n_cal"),
          col("n_test").cast("long").as("n_test"),
          round(col("p") / 100.0, 2).as("pred_price"),
          round(col("q") / 100.0, 2).as("q_width"),
          round(col("hits") / col("n_test"), 6).as("coverage"))
        .orderBy(col("flag"))
  }

  /** MASE — forecast error in units of the seasonal-naive baseline
    * (Hyndman & Koehler 2006): MAE of 1-day persistence over MAE of
    * same-day-last-week, per event type, on days where both exist.
    * The lag attachments are the gap-exact date-shift joins (J5 —
    * music.md:72-94's form), so a missing calendar day yields no row
    * rather than the previous row; everything runs on the
    * calendar-bounded daily table after one groupBy of the corpus.
    * MASE < 1 ⇒ persistence beats last-week — the go/no-go number a
    * forecast deployment actually reads.
    */
  val q219Mase = GraftQuery(
    "q219_mase",
    "MASE of 1-day persistence vs weekly seasonal-naive per event type",
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
          ROUND(SUM(value), 2) AS v
        FROM events GROUP BY 1, 2),
      j AS (
        SELECT d.event_type, d.v, p.v AS v1, w.v AS v7
        FROM daily d
        JOIN daily p ON p.event_type = d.event_type
          AND p.day = d.day - 1
        JOIN daily w ON w.event_type = d.event_type
          AND w.day = d.day - 7)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        ROUND(AVG(abs(v - v1)), 4) AS mae_persist,
        ROUND(AVG(abs(v - v7)), 4) AS mae_seasonal,
        ROUND(AVG(abs(v - v1)) / AVG(abs(v - v7)), 6) AS mase
      FROM j GROUP BY 1 ORDER BY 1"""),
    (s, d) => mase(events(s, d)))

  /** The q219 plan over any (event_type, ts, value) frame — EvalSpec
    * pins the gap-exact lag joins and the MASE ratio on a hand series. */
  def mase(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("v"))
        .localCheckpoint(false) // feeds all three join arms
      val p = daily.select(col("event_type"),
        date_add(col("day"), 1).as("day"), col("v").as("v1"))
      val w = daily.select(col("event_type"),
        date_add(col("day"), 7).as("day"), col("v").as("v7"))
      daily.join(p, Seq("event_type", "day"))
        .join(w, Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          round(avg(abs(col("v") - col("v1"))), 4).as("mae_persist"),
          round(avg(abs(col("v") - col("v7"))), 4).as("mae_seasonal"),
          round(avg(abs(col("v") - col("v1"))) /
            avg(abs(col("v") - col("v7"))), 6).as("mase"))
        .orderBy(col("event_type"))
  }

  /** ROC AUC of q217's return-risk score — its DISCRIMINATION, the
    * companion number to q217's calibration (a score can be perfectly
    * calibrated and useless, or sharp and miscalibrated; deployments
    * read both). Computed in the midrank/Mann–Whitney form over the
    * VALUE DISTRIBUTION (the q205/q206 discipline): the corpus
    * collapses to ≤ |discounts|×|quantities| = 550 distinct-score rows
    * (a domain constant — 180 observed), the one ordered sweep runs on
    * that table (registered in `QueriesSpec.boundedGlobalWindow`), and
    * ties contribute the standard half credit. EvalSpec pins
    * equivalence to the brute-force pairwise definition on a hand set.
    */
  val q223Auc = GraftQuery(
    "q223_auc",
    "ROC AUC (midrank form) of the q217 return-risk score",
    Some("""WITH b AS (
        SELECT least(0.99, 0.05 + l_discount * 3 + l_quantity / 200.0) AS s,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem),
      dist AS (
        SELECT s, SUM(y) AS np, COUNT(*) - SUM(y) AS nn
        FROM b GROUP BY 1),
      sweep AS (
        SELECT s, np, nn,
          COALESCE(SUM(nn) OVER (ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn
        FROM dist),
      t AS (
        SELECT SUM(np) AS p, SUM(nn) AS n,
          SUM(np * (cn + nn / 2.0)) AS u
        FROM sweep)
      SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
        ROUND(u / (p * n), 6) AS auc,
        ROUND(2 * u / (p * n) - 1, 6) AS gini
      FROM t"""),
    (s, d) => auc(lineitem(s, d).select(
      least(lit(0.99), lit(0.05) + col("l_discount") * 3 +
        col("l_quantity") / 200.0).as("s"),
      when(col("l_returnflag") === "R", 1).otherwise(0).as("y"))))

  /** The q223 plan over any (s: double, y: 0/1) frame. */
  def auc(base: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dist = base.groupBy(col("s"))
      .agg(sum(col("y")).as("np"),
        (count(lit(1)) - sum(col("y"))).as("nn"))
    // bounded global window: rows = |distinct scores|, a domain
    // constant (registered in QueriesSpec.boundedGlobalWindow)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    dist
      .withColumn("cn", coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(sum(col("np")).as("p"), sum(col("nn")).as("n"),
        sum(col("np") * (col("cn") + col("nn") / 2.0)).as("u"))
      .select(col("p").cast("long").as("n_pos"),
        col("n").cast("long").as("n_neg"),
        round(col("u") / (col("p") * col("n")), 6).as("auc"),
        round(lit(2) * col("u") / (col("p") * col("n")) - 1, 6).as("gini"))
  }

  /** Population stability index per event type — THE production drift
    * monitor (credit-scoring lineage; rule of thumb: < 0.1 stable,
    * > 0.25 investigate), here between the stream's first 15 calendar
    * days (reference) and the rest (current). Ten equal-width value
    * bins from one broadcast min/max row; every (type, bin) cell is
    * Laplace-smoothed ((c+0.5)/(n+5)) so empty bins contribute finite
    * divergence — and the zero-count bins EXIST because the bin spine
    * is an exploded literal sequence left-joined with counts, not
    * whatever bins happened to occur. One shuffle of (type, bin, half)
    * counts; PSI folds 10 broadcast-sized rows per type.
    */
  val q224Psi = GraftQuery(
    "q224_psi",
    "population stability index (first 15 days vs rest) per event type",
    Some("""WITH bounds AS (
        SELECT MIN(value) AS mn, MAX(value) AS mx,
          MIN(CAST(ts AS DATE)) AS d0 FROM events),
      b AS (
        SELECT event_type,
          CASE WHEN CAST(ts AS DATE) <= d0 + 14 THEN 0 ELSE 1 END AS half,
          least(9, CAST(floor((value - mn) / ((mx - mn) / 10.0))
            AS INTEGER)) AS bin
        FROM events, bounds),
      c AS (SELECT event_type, half, bin, COUNT(*) AS c
        FROM b GROUP BY 1, 2, 3),
      spine AS (
        SELECT et.event_type, u.bin
        FROM (SELECT DISTINCT event_type FROM events) et,
          unnest(generate_series(0, 9)) AS u(bin)),
      n AS (SELECT event_type, half, SUM(c) AS n FROM c GROUP BY 1, 2),
      pq AS (
        SELECT s.event_type, s.bin, nr.n AS nrn, nc.n AS ncn,
          (COALESCE(cr.c, 0) + 0.5) / (nr.n + 5.0) AS p,
          (COALESCE(cc.c, 0) + 0.5) / (nc.n + 5.0) AS q
        FROM spine s
        LEFT JOIN c cr ON cr.event_type = s.event_type
          AND cr.bin = s.bin AND cr.half = 0
        LEFT JOIN c cc ON cc.event_type = s.event_type
          AND cc.bin = s.bin AND cc.half = 1
        JOIN n nr ON nr.event_type = s.event_type AND nr.half = 0
        JOIN n nc ON nc.event_type = s.event_type AND nc.half = 1)
      SELECT event_type, CAST(MIN(nrn) AS BIGINT) AS n_ref,
        CAST(MIN(ncn) AS BIGINT) AS n_cur,
        ROUND(SUM((q - p) * ln(q / p)), 6) AS psi
      FROM pq GROUP BY 1 ORDER BY 1"""),
    (s, d) => psi(events(s, d)))

  /** The q224 plan over any (event_type, ts, value) frame. */
  def psi(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val e = ev.select(col("event_type"), col("ts"), col("value"))
      .localCheckpoint(false) // feeds bounds, counts, and the spine
    val bounds = e.agg(min(col("value")).as("mn"), max(col("value")).as("mx"),
      min(to_date(col("ts"))).as("d0"))
    val c = e.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        when(to_date(col("ts")) <= date_add(col("d0"), 14), 0).otherwise(1)
          .as("half"),
        least(lit(9), floor((col("value") - col("mn")) /
          ((col("mx") - col("mn")) / 10.0)).cast("int")).as("bin"))
      .groupBy(col("event_type"), col("half"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds totals AND both spine joins
    val n = c.groupBy(col("event_type"), col("half"))
      .agg(sum(col("c")).as("n"))
    val spine = e.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(0), lit(9))).as("bin"))
    val cr = c.where(col("half") === 0)
      .select(col("event_type"), col("bin"), col("c").as("c_ref"))
    val cc = c.where(col("half") === 1)
      .select(col("event_type"), col("bin"), col("c").as("c_cur"))
    val nr = n.where(col("half") === 0)
      .select(col("event_type"), col("n").as("n_ref"))
    val nc = n.where(col("half") === 1)
      .select(col("event_type"), col("n").as("n_cur"))
    spine
      .join(cr, Seq("event_type", "bin"), "left")
      .join(cc, Seq("event_type", "bin"), "left")
      .join(broadcast(nr), Seq("event_type"))
      .join(broadcast(nc), Seq("event_type"))
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        ((coalesce(col("c_ref"), lit(0L)) + 0.5) / (col("n_ref") + 5.0))
          .as("p"),
        ((coalesce(col("c_cur"), lit(0L)) + 0.5) / (col("n_cur") + 5.0))
          .as("q"))
      .groupBy(col("event_type"))
      .agg(first(col("n_ref")).as("nr"), first(col("n_cur")).as("nc"),
        sum((col("q") - col("p")) * log(col("q") / col("p"))).as("psi"))
      .select(col("event_type"), col("nr").cast("long").as("n_ref"),
        col("nc").cast("long").as("n_cur"),
        round(col("psi"), 6).as("psi"))
      .orderBy(col("event_type"))
  }

  /** Delete-one-bucket jackknife for a RATIO metric — the variance
    * machinery every A/B readout with a ratio numerator needs (the
    * naive per-row variance is wrong when numerator and denominator
    * correlate within units; q124's t-test covers means, this covers
    * ratios). Units (orders) hash into 10 buckets; revenue is summed
    * in INTEGER CENTS per bucket so the leave-one-out ratios are
    * bit-identical across engines (the q218 discipline — jackknife
    * differences are exactly the cancellation-amplified quantity
    * float sums would poison). Everything after the one bucket-keyed
    * shuffle is arithmetic over 10 metadata rows.
    */
  val q225Jackknife = GraftQuery(
    "q225_jackknife",
    "delete-one-bucket jackknife CI for revenue-per-unit (integer cents)",
    Some("""WITH b AS (
        SELECT CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)
            AS UBIGINT) % 10 AS bucket,
          CAST(ROUND(CAST(CAST(l_extendedprice * (1 - l_discount) * 100
            AS VARCHAR) AS DECIMAL(38,18)), 0) AS BIGINT)
            AS rev,
          CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem),
      g AS (SELECT bucket, SUM(rev) AS s, SUM(qty) AS q, COUNT(*) AS n
        FROM b GROUP BY 1),
      t AS (SELECT SUM(s) AS ts, SUM(q) AS tq, COUNT(*) AS k FROM g),
      loo AS (
        SELECT g.bucket, g.n,
          (t.ts - g.s) / 100.0 / (t.tq - g.q) AS theta_i
        FROM g, t),
      m AS (SELECT AVG(theta_i) AS mb FROM loo),
      v AS (
        SELECT sqrt((t.k - 1.0) / t.k *
          SUM((theta_i - m.mb) * (theta_i - m.mb))) AS se
        FROM loo, m, t GROUP BY t.k),
      th AS (SELECT ts / 100.0 / tq AS theta FROM t)
      SELECT CAST(loo.bucket AS INTEGER) AS bucket,
        CAST(loo.n AS BIGINT) AS n_rows,
        ROUND(loo.theta_i, 6) AS theta_loo,
        ROUND(th.theta, 6) AS theta,
        ROUND(v.se, 6) AS se,
        ROUND(th.theta - 1.96 * v.se, 6) AS ci_lo,
        ROUND(th.theta + 1.96 * v.se, 6) AS ci_hi
      FROM loo, th, v ORDER BY 1"""),
    (s, d) => jackknifeRatio(lineitem(s, d).select(
      (graft.functions.Md5Prefix.md5_prefix32(col("l_orderkey")) % 10)
        .as("bucket"),
      round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("bigint").as("rev"),
      col("l_quantity").cast("bigint").as("qty"))))

  /** Hampel/MAD robust outlier screen per event type — the monitoring
    * primitive that survives the anomalies it hunts (mean/σ are
    * dragged by the very outliers they're meant to flag; the median
    * and the median-absolute-deviation aren't). Daily sums (rounded —
    * the shared q85 convention) get the exact interpolated median
    * (Spark `percentile` == DuckDB `quantile_cont`, probed on doubles
    * before this was written — DuckDB's `median` on DECIMAL inputs is
    * discrete, hence the explicit cont form in the oracle), then the
    * MAD of deviations, then the classic 3·1.4826·MAD fence. Two
    * passes over the calendar-bounded daily table; the corpus crosses
    * one groupBy.
    */
  val q226MadOutliers = GraftQuery(
    "q226_mad_outliers",
    "median/MAD (Hampel) outlier fence per event type over daily sums",
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
          ROUND(SUM(value), 2) AS v
        FROM events GROUP BY 1, 2),
      med AS (SELECT event_type, quantile_cont(v, 0.5) AS med
        FROM daily GROUP BY 1),
      dev AS (SELECT d.event_type, abs(d.v - med.med) AS dv
        FROM daily d JOIN med USING (event_type)),
      mad AS (SELECT event_type, quantile_cont(dv, 0.5) AS mad
        FROM dev GROUP BY 1)
      SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        ROUND(MIN(med.med), 2) AS med, ROUND(MIN(mad.mad), 2) AS mad,
        CAST(SUM(CASE WHEN abs(d.v - med.med) >
          3 * 1.4826 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM daily d JOIN med USING (event_type) JOIN mad USING (event_type)
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => madOutliers(events(s, d)))

  /** The q226 plan over any (event_type, ts, value) frame — EvalSpec
    * plants a spike and pins the fence. */
  def madOutliers(ev: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val daily = ev
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 2).as("v"))
      .localCheckpoint(false) // feeds both percentile passes + the fence
    val med = daily.groupBy(col("event_type"))
      .agg(expr("percentile(v, 0.5)").as("med"))
    val mad = daily.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), abs(col("v") - col("med")).as("dv"))
      .groupBy(col("event_type"))
      .agg(expr("percentile(dv, 0.5)").as("mad"))
    daily.join(broadcast(med), Seq("event_type"))
      .join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        round(min(col("med")), 2).as("med"),
        round(min(col("mad")), 2).as("mad"),
        sum(when(abs(col("v") - col("med")) >
          lit(3) * 1.4826 * col("mad"), 1).otherwise(0))
          .cast("bigint").as("n_outliers"))
      .select(col("event_type"), col("n_days").cast("long").as("n_days"),
        col("med"), col("mad"), col("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** 5-fold cross-validation of the per-flag mean-price predictor —
    * the fold variance that says whether an eval number is signal or
    * fold luck. The per-fold out-of-fold predictor needs NO 5-pass
    * retraining: train sums are (S_g − s_{g,f})/(n_g − n_{g,f}) from
    * one (flag, fold) aggregate in integer cents (exact in both
    * engines), rows join their fold's predictor broadcast, and the
    * fold MSEs + their mean/sd are arithmetic over 5 rows.
    */
  val q227CvFolds = GraftQuery(
    "q227_cv_folds",
    "5-fold CV MSE of the per-flag mean price, LOO-sum trained",
    Some("""WITH b AS (
        SELECT l_returnflag AS flag,
          CAST(ROUND(CAST(CAST(l_extendedprice * 100 AS VARCHAR)
            AS DECIMAL(38,18)), 0) AS BIGINT) AS cents,
          CAST('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
            AS VARCHAR)), 1, 8) AS UBIGINT) % 5 AS fold
        FROM lineitem),
      g AS (SELECT flag, fold, SUM(cents) AS s, COUNT(*) AS n,
          SUM(CAST(cents AS HUGEINT) * cents) AS s2
        FROM b GROUP BY 1, 2),
      t AS (SELECT flag, SUM(s) AS ts, SUM(n) AS tn FROM g GROUP BY 1),
      pred AS (
        SELECT g.flag, g.fold, g.s, g.n, g.s2,
          (t.ts - g.s) * 1.0 / (t.tn - g.n) AS p
        FROM g JOIN t USING (flag)),
      mse AS (
        SELECT fold, SUM(n) AS n,
          SUM(CAST(s2 AS DOUBLE) - 2 * p * s + n * p * p)
            / SUM(n) / 10000.0 AS mse
        FROM pred GROUP BY 1),
      agg AS (
        SELECT AVG(mse) AS mean_mse,
          sqrt(SUM((mse - (SELECT AVG(mse) FROM mse))
            * (mse - (SELECT AVG(mse) FROM mse))) / (COUNT(*) - 1)) AS sd
        FROM mse)
      SELECT CAST(fold AS INTEGER) AS fold, CAST(n AS BIGINT) AS n_rows,
        ROUND(mse, 4) AS mse,
        ROUND(agg.mean_mse, 4) AS mean_mse, ROUND(agg.sd, 4) AS sd_mse
      FROM mse, agg ORDER BY 1"""),
    (s, d) => cvFolds(lineitem(s, d).select(
      col("l_returnflag").as("flag"),
      round(col("l_extendedprice") * 100).cast("bigint").as("cents"),
      (graft.functions.Md5Prefix.md5_prefix32(
        col("l_orderkey") * 10 + col("l_linenumber")) % 5).as("fold"))))

  /** The q227 plan over any (flag, cents, fold) frame — EvalSpec
    * hand-traces the LOO-sum predictor and the fold sd. */
  def cvFolds(in: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // Round-12 single-pass form (guide §1.2 step 1 — remove passes):
    // per-fold MSE against the out-of-fold mean expands to
    // (Σc² − 2p·Σc + n·p²)/n, so ONE (flag, fold) aggregate carrying
    // the exact integer sums (Σc² in Decimal(38,0)/HUGEINT — cents²
    // overflows int64 past ~10⁹ rows) replaces the old corpus
    // checkpoint + a second corpus scan joining every row to its
    // fold's predictor. The 15-row group table is all that ever
    // leaves the scan; fold MSEs are arithmetic over it. Also
    // strictly TIGHTER numerically: the old float Σ(c−p)² summed
    // ~n/5 doubles per fold in partition order (registered residual
    // class); the closed form sums 3 exact-integer-derived terms per
    // fold, shrinking the order-dependent dust by ~√n.
    val g = in.groupBy(col("flag"), col("fold"))
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("n"),
        sum(col("cents").cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * col("cents")).as("s2"))
      .localCheckpoint(false) // 15 rows; feeds t AND pred
    val t = g.groupBy(col("flag")).agg(sum(col("s")).as("ts"),
      sum(col("n")).as("tn"))
    val pred = g.join(broadcast(t), Seq("flag"))
      .select(col("flag"), col("fold"), col("s"), col("n"), col("s2"),
        ((col("ts") - col("s")) * 1.0 / (col("tn") - col("n"))).as("p"))
    val mse = pred
      .groupBy(col("fold"))
      .agg(sum(col("n")).as("n"),
        (sum(col("s2").cast("double") - lit(2) * col("p") * col("s")
          + col("n") * col("p") * col("p")) /
          sum(col("n")) / 10000.0).as("mse"))
      .localCheckpoint(false) // feeds the summary AND the rows
    val m = mse.agg(avg(col("mse")).as("mean_mse"))
    val sd = mse.crossJoin(broadcast(m))
      .agg(sqrt(sum((col("mse") - col("mean_mse")) *
        (col("mse") - col("mean_mse"))) / (count(lit(1)) - 1)).as("sd"),
        first(col("mean_mse")).as("mean_mse"))
    mse.crossJoin(broadcast(sd))
      .select(col("fold").cast("int").as("fold"),
        col("n").cast("long").as("n_rows"),
        round(col("mse"), 4).as("mse"),
        round(col("mean_mse"), 4).as("mean_mse"),
        round(col("sd"), 4).as("sd_mse"))
      .orderBy(col("fold"))
  }

  /** Learning curve — held-out MAE of the per-flag mean predictor as
    * the training split grows 10 → 20 → 40 → 80 % (NESTED by hash
    * prefix, so each point's training set contains the previous
    * one's, the way a real "should we buy more data?" curve is drawn;
    * the answer the curve gives is the curation go/no-go). On this
    * fixture the curve is honestly FLAT (MAE 26 040 ± 1 at every
    * point — a mean over uniform prices saturates by the 10 % split;
    * the residual is irreducible), so EvalSpec plants a low-data
    * regime where the curve visibly descends instead. Train sums
    * per point are conditional aggregates against a 4-row literal
    * spine; the test scan joins its 4 predictors broadcast — the
    * corpus crosses two scans and one (flag, pct) shuffle no matter
    * how many curve points are drawn.
    */
  val q228LearningCurve = GraftQuery(
    "q228_learning_curve",
    "held-out MAE of the per-flag mean price at nested 10/20/40/80% train splits",
    Some("""WITH b AS (
        SELECT l_returnflag AS flag,
          CAST(ROUND(CAST(CAST(l_extendedprice * 100 AS VARCHAR)
            AS DECIMAL(38,18)), 0) AS BIGINT) AS cents,
          CAST('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
            AS VARCHAR)), 1, 8) AS UBIGINT) % 100 AS u
        FROM lineitem),
      pcts AS (SELECT unnest([10, 20, 40, 80]) AS pct),
      tr AS (
        SELECT b.flag, p.pct, SUM(b.cents) AS s, COUNT(*) AS n
        FROM b, pcts p WHERE b.u < p.pct GROUP BY 1, 2),
      pred AS (SELECT flag, pct, s * 1.0 / n AS p, n AS n_train FROM tr),
      test AS (SELECT flag, cents FROM b WHERE u >= 80),
      ev AS (
        SELECT pred.pct, COUNT(*) AS n_test_rows,
          SUM(abs(test.cents - pred.p)) / COUNT(*) / 100.0 AS mae
        FROM test JOIN pred USING (flag) GROUP BY 1),
      ntr AS (SELECT pct, CAST(SUM(n) AS BIGINT) AS n_train
        FROM tr GROUP BY 1)
      SELECT CAST(ev.pct AS INTEGER) AS train_pct, ntr.n_train,
        CAST(ev.n_test_rows AS BIGINT) AS n_test,
        ROUND(ev.mae, 4) AS mae
      FROM ev JOIN ntr USING (pct) ORDER BY 1"""),
    (s, d) => learningCurve(lineitem(s, d).select(
      col("l_returnflag").as("flag"),
      round(col("l_extendedprice") * 100).cast("bigint").as("cents"),
      (graft.functions.Md5Prefix.md5_prefix32(
        col("l_orderkey") * 10 + col("l_linenumber")) % 100).as("u"))))

  /** The q228 plan over any (flag, cents, u: 0..99) frame. */
  def learningCurve(in: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val b = in.localCheckpoint(false) // feeds the train sums AND the test scan
    val pcts = b.sparkSession.range(1).select(
      explode(array(lit(10), lit(20), lit(40), lit(80))).as("pct"))
    val tr = b.crossJoin(broadcast(pcts)).where(col("u") < col("pct"))
      .groupBy(col("flag"), col("pct"))
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))
      .localCheckpoint(false) // feeds the predictor AND the size rollup
    val pred = tr.select(col("flag"), col("pct"),
      (col("s") * 1.0 / col("n")).as("p"))
    val ev = b.where(col("u") >= 80).join(broadcast(pred), Seq("flag"))
      .groupBy(col("pct"))
      .agg(count(lit(1)).as("n_test"),
        (sum(abs(col("cents") - col("p"))) / count(lit(1)) / 100.0)
          .as("mae"))
    val ntr = tr.groupBy(col("pct"))
      .agg(sum(col("n")).cast("bigint").as("n_train"))
    ev.join(broadcast(ntr), Seq("pct"))
      .select(col("pct").cast("int").as("train_pct"), col("n_train"),
        col("n_test").cast("long").as("n_test"),
        round(col("mae"), 4).as("mae"))
      .orderBy(col("train_pct"))
  }

  /** The q225 plan over any (bucket, rev, qty) frame — EvalSpec
    * hand-traces the leave-one-out ratios and the (k−1)/k factor. */
  def jackknifeRatio(in: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val g = in.groupBy(col("bucket"))
      .agg(sum(col("rev")).as("s"), sum(col("qty")).as("q"),
        count(lit(1)).as("n"))
      .localCheckpoint(false) // feeds totals AND the loo rows
    val t = g.agg(sum(col("s")).as("ts"), sum(col("q")).as("tq"),
      count(lit(1)).as("k"))
    val loo = g.crossJoin(broadcast(t))
      .select(col("bucket"), col("n"),
        ((col("ts") - col("s")) / 100.0 / (col("tq") - col("q")))
          .as("theta_i"), col("k"), col("ts"), col("tq"))
      .localCheckpoint(false) // feeds the mean, the variance, the rows
    val m = loo.agg(avg(col("theta_i")).as("mb"))
    val v = loo.crossJoin(broadcast(m))
      .groupBy(col("k"))
      .agg(sqrt((col("k") - 1.0) / col("k") *
        sum((col("theta_i") - col("mb")) * (col("theta_i") - col("mb"))))
        .as("se"))
      .select(col("se"))
    loo.crossJoin(broadcast(v))
      .select(col("bucket").cast("int").as("bucket"),
        col("n").cast("long").as("n_rows"),
        round(col("theta_i"), 6).as("theta_loo"),
        round(col("ts") / 100.0 / col("tq"), 6).as("theta"),
        round(col("se"), 6).as("se"),
        round(col("ts") / 100.0 / col("tq") - lit(1.96) * col("se"), 6)
          .as("ci_lo"),
        round(col("ts") / 100.0 / col("tq") + lit(1.96) * col("se"), 6)
          .as("ci_hi"))
      .orderBy(col("bucket"))
  }

  /** Poisson bootstrap CI for revenue-per-unit per return flag — THE
    * distributed bootstrap (classic multinomial resampling needs a
    * global draw of n indices; Poissonization makes every row's
    * replica weight independent — w ~ Poisson(1) — so resampling
    * becomes a per-row expression and the whole B-replica ensemble is
    * one scan + one (flag, replica) shuffle of map-combined GROUP
    * SUMS, never a B× row blow-up past the combiner). q225's
    * jackknife linearizes the ratio; this draws its actual sampling
    * distribution. Determinism: u from a double-iterated Lehmer/
    * MINSTD step on rid·B+b — pure BIGINT modmul, overflow-safe under
    * both engines' checked arithmetic (rid·B·48271 < 2⁶³). The md5
    * convention (q227) was the first cut and measured 42 s at sf0.1 —
    * 600M digests IS the 100× scan the scaladoc warns about; the
    * modmul replays bit-identically at digest-free cost, and EvalSpec
    * pins its weight distribution against the exact Poisson(1) pmf
    * (mean 0.9998, var 0.9994 over 6M fixture draws). w = inverse
    * Poisson(1) CDF via literal thresholds — identical doubles and
    * comparisons in both engines, weighted sums in integer cents, so
    * the B=100 replicate ratios are bit-exact before the bounded
    * (flag × B) summary.
    */
  val q238PoissonBootstrap = GraftQuery(
    "q238_poisson_bootstrap",
    "Poisson(1)-bootstrap percentile CI for revenue-per-unit per flag (B=100)",
    Some("""WITH b AS (
        SELECT l_returnflag AS flag,
          CAST(ROUND(CAST(CAST(l_extendedprice * (1 - l_discount) * 100
            AS VARCHAR) AS DECIMAL(38,18)), 0) AS BIGINT)
            AS rev,
          CAST(l_quantity AS BIGINT) AS qty,
          l_orderkey * 10 + l_linenumber AS rid
        FROM lineitem),
      rep AS (
        SELECT flag, rev, qty, rid, r.b,
          ((rid * 100 + r.b) * 48271 % 2147483647) * 48271 % 2147483647
            / 2147483647.0 AS u
        FROM b, (SELECT unnest(range(100)) AS b) r),
      w AS (
        SELECT flag, b,
          CASE WHEN u < 0.36787944117144233 THEN 0
               WHEN u < 0.7357588823428847 THEN 1
               WHEN u < 0.9196986029286058 THEN 2
               WHEN u < 0.9810118431238462 THEN 3
               WHEN u < 0.9963401531726563 THEN 4
               WHEN u < 0.9994058151824183 THEN 5
               WHEN u < 0.9999167588507119 THEN 6
               ELSE 7 END AS wt, rev, qty
        FROM rep),
      g AS (
        SELECT flag, b, SUM(wt * rev) AS wr, SUM(wt * qty) AS wq
        FROM w GROUP BY 1, 2),
      ratios AS (SELECT flag, b, wr / 100.0 / wq AS theta FROM g),
      pt AS (SELECT flag, SUM(rev) / 100.0 / SUM(qty) AS point,
          COUNT(*) AS n FROM b GROUP BY 1),
      bs AS (
        SELECT flag, AVG(theta) AS bm, STDDEV_SAMP(theta) AS bse,
          quantile_cont(theta, 0.025) AS lo,
          quantile_cont(theta, 0.975) AS hi
        FROM ratios GROUP BY 1)
      SELECT pt.flag, CAST(pt.n AS BIGINT) AS n_rows,
        ROUND(pt.point, 6) AS point, ROUND(bs.bm, 6) AS boot_mean,
        ROUND(bs.bse, 6) AS boot_se, ROUND(bs.lo, 6) AS ci_lo,
        ROUND(bs.hi, 6) AS ci_hi
      FROM pt JOIN bs USING (flag) ORDER BY 1"""),
    (s, d) => poissonBootstrap(lineitem(s, d).select(
      col("l_returnflag").as("flag"),
      round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("bigint").as("rev"),
      col("l_quantity").cast("bigint").as("qty"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("rid")), reps = 100))

  /** The q238 plan over any (flag, rev, qty, rid) frame — EvalSpec
    * pins the weight distribution and CI coverage on a planted frame.
    */
  def poissonBootstrap(in: org.apache.spark.sql.DataFrame, reps: Int)
      : org.apache.spark.sql.DataFrame = {
    // feeds the point estimate + replicas; spread first — the ×reps
    // explode below is the whole cost of this query, and it runs at
    // the spread's parallelism (the raw fixture scan is 3
    // partitions, so the 60M-replica stage would use 3 of 32 cores:
    // measured 3.3 s → 1.0 s warm at sf0.1 with the spread)
    val b = graft.model.Tables.spread(in, col("rid"))
    val rep = b
      .withColumn("b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("u",
        (col("rid") * reps + col("b")) * 48271L % 2147483647L * 48271L
          % 2147483647L / 2147483647.0)
      .withColumn("wt",
        when(col("u") < 0.36787944117144233, 0)
          .when(col("u") < 0.7357588823428847, 1)
          .when(col("u") < 0.9196986029286058, 2)
          .when(col("u") < 0.9810118431238462, 3)
          .when(col("u") < 0.9963401531726563, 4)
          .when(col("u") < 0.9994058151824183, 5)
          .when(col("u") < 0.9999167588507119, 6)
          .otherwise(7))
    val ratios = rep.groupBy(col("flag"), col("b"))
      .agg(sum(col("wt") * col("rev")).as("wr"),
        sum(col("wt") * col("qty")).as("wq"))
      .select(col("flag"), (col("wr") / 100.0 / col("wq")).as("theta"))
    val pt = b.groupBy(col("flag"))
      .agg((sum(col("rev")) / 100.0 / sum(col("qty"))).as("point"),
        count(lit(1)).as("n"))
    val bs = ratios.groupBy(col("flag"))
      .agg(avg(col("theta")).as("bm"), stddev_samp(col("theta")).as("bse"),
        expr("percentile(theta, 0.025)").as("lo"),
        expr("percentile(theta, 0.975)").as("hi"))
    pt.join(bs, Seq("flag"))
      .select(col("flag"), col("n").cast("long").as("n_rows"),
        round(col("point"), 6).as("point"), round(col("bm"), 6).as("boot_mean"),
        round(col("bse"), 6).as("boot_se"), round(col("lo"), 6).as("ci_lo"),
        round(col("hi"), 6).as("ci_hi"))
      .orderBy(col("flag"))
  }
}
