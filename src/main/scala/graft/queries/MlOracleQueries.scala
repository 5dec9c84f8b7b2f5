package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables._

/** Closed-form ML with value-exact oracles — the deterministic slices
  * of the M-family (music.md:618-748's regression/clustering stages)
  * that CAN be replayed in ANSI SQL, complementing the spec-pinned
  * iterative fits in `graft/ml/`: OLS by normal equations (M3's exact
  * solution), Gaussian Naive Bayes (the one classical classifier whose
  * "fit" is a GROUP BY), a decision stump (the depth-1 slice of
  * M4/M5's tree machinery), and one Lloyd iteration from pinned seeds
  * (M6's inner loop, made deterministic by fixing the seeds).
  *
  * Scale design: every "model" here is a table of GROUP-SUM moments —
  * 10 sums per regression group, 8 stats per (label, dim), a
  * value-histogram per feature, k centroid rows. The corpus crosses
  * one shuffle to build that table; fit arithmetic runs on the tiny
  * model table; scoring (NB, Lloyd) re-streams the corpus against the
  * BROADCAST model. That two-phase shape (moment pass → broadcast
  * score pass) is exactly how the closed forms stay one-pass-per-stage
  * at 100 TB.
  *
  * Float discipline: per-row score arithmetic (log-likelihoods,
  * distances) is written as the same left-associated expression in
  * both engines over identical inputs, so even argmax/argmin survive
  * the compare; cross-row SUMs differ only by accumulation order
  * (~1e-13 relative) and every reported double is rounded 4dp.
  */
object MlOracleQueries {

  def queries: Seq[GraftQuery] =
    Seq(q254Ols, q255NaiveBayes, q256Stump, q257LloydStep,
      q265Mahalanobis, q266Pca2, q270LooInfluence, q272RidgePath,
      q273BoostRound, q282IrlsStep, q283EmTopics, q285Isotonic)

  /** OLS `l_extendedprice ~ l_quantity + l_discount` per return flag,
    * solved exactly by the 3×3 normal equations (adjugate inverse of
    * the symmetric moment matrix [[n,Sq,Sd],[Sq,Sqq,Sqd],[Sd,Sqd,Sdd]])
    * — one aggregation pass collects ten moments, the solve is scalar
    * arithmetic on the 3-row group table. R² from SSE = Syy − β·X'y.
    */
  val q254Ols = GraftQuery(
    "q254_ols",
    "exact OLS (normal equations): price ~ quantity + discount per return flag",
    Some("""WITH m AS (
        SELECT l_returnflag,
          COUNT(*) * 1.0 AS a, SUM(l_quantity) AS b, SUM(l_discount) AS c,
          SUM(l_quantity * l_quantity) AS d,
          SUM(l_quantity * l_discount) AS e,
          SUM(l_discount * l_discount) AS f,
          SUM(l_extendedprice) AS sy,
          SUM(l_quantity * l_extendedprice) AS sqy,
          SUM(l_discount * l_extendedprice) AS sdy,
          SUM(l_extendedprice * l_extendedprice) AS syy
        FROM lineitem GROUP BY 1),
      k AS (
        SELECT *, a * (d * f - e * e) - b * (b * f - c * e)
            + c * (b * e - c * d) AS det,
          d * f - e * e AS i00, c * e - b * f AS i01, b * e - c * d AS i02,
          a * f - c * c AS i11, b * c - a * e AS i12, a * d - b * b AS i22
        FROM m),
      s AS (
        SELECT l_returnflag, a,
          (i00 * sy + i01 * sqy + i02 * sdy) / det AS b0,
          (i01 * sy + i11 * sqy + i12 * sdy) / det AS b1,
          (i02 * sy + i12 * sqy + i22 * sdy) / det AS b2,
          sy, sqy, sdy, syy
        FROM k)
      SELECT l_returnflag, CAST(a AS BIGINT) AS n,
        ROUND(b0, 4) AS beta0, ROUND(b1, 4) AS beta1,
        ROUND(b2, 4) AS beta2,
        ROUND(1 - (syy - (b0 * sy + b1 * sqy + b2 * sdy))
          / (syy - sy * sy / a), 4) AS r2
      FROM s ORDER BY 1"""),
    (s, d) => ols(lineitem(s, d)))

  /** The q254 pipeline — MlOracleSpec pins recovery of an exactly
    * linear frame (β hit to 1e-9, R² = 1). */
  def ols(li: DataFrame): DataFrame = {
    val qn = col("l_quantity"); val dc = col("l_discount")
    val y = col("l_extendedprice")
    val m = li.groupBy(col("l_returnflag")).agg(
      (count(lit(1)) * lit(1.0)).as("a"), sum(qn).as("b"), sum(dc).as("c"),
      sum(qn * qn).as("d"), sum(qn * dc).as("e"), sum(dc * dc).as("f"),
      sum(y).as("sy"), sum(qn * y).as("sqy"), sum(dc * y).as("sdy"),
      sum(y * y).as("syy"))
    val k = m
      .withColumn("det", col("a") * (col("d") * col("f") - col("e") * col("e"))
        - col("b") * (col("b") * col("f") - col("c") * col("e"))
        + col("c") * (col("b") * col("e") - col("c") * col("d")))
      .withColumn("i00", col("d") * col("f") - col("e") * col("e"))
      .withColumn("i01", col("c") * col("e") - col("b") * col("f"))
      .withColumn("i02", col("b") * col("e") - col("c") * col("d"))
      .withColumn("i11", col("a") * col("f") - col("c") * col("c"))
      .withColumn("i12", col("b") * col("c") - col("a") * col("e"))
      .withColumn("i22", col("a") * col("d") - col("b") * col("b"))
    val s = k.select(col("l_returnflag"), col("a"),
      ((col("i00") * col("sy") + col("i01") * col("sqy")
        + col("i02") * col("sdy")) / col("det")).as("b0"),
      ((col("i01") * col("sy") + col("i11") * col("sqy")
        + col("i12") * col("sdy")) / col("det")).as("b1"),
      ((col("i02") * col("sy") + col("i12") * col("sqy")
        + col("i22") * col("sdy")) / col("det")).as("b2"),
      col("sy"), col("sqy"), col("sdy"), col("syy"))
    s.select(col("l_returnflag"), col("a").cast("long").as("n"),
      round(col("b0"), 4).as("beta0"), round(col("b1"), 4).as("beta1"),
      round(col("b2"), 4).as("beta2"),
      round(lit(1) - (col("syy") - (col("b0") * col("sy")
        + col("b1") * col("sqy") + col("b2") * col("sdy")))
        / (col("syy") - col("sy") * col("sy") / col("a")), 4).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  /** Gaussian Naive Bayes over embedding dims 1–4 (resubstitution):
    * the per-(label, dim) mean/variance table IS the fitted model
    * (one GROUP BY), scoring is a broadcast attach of the 10-row model
    * and an argmax of ln n_label + Σ_j [−½ln(2πσ²) − (x−μ)²/(2σ²)]
    * (the constant −ln N dropped — it shifts every class equally).
    * Output is the confusion matrix, integer-exact.
    */
  val q255NaiveBayes = GraftQuery(
    "q255_naive_bayes",
    "Gaussian Naive Bayes on embedding dims 1-4: confusion matrix (resubstitution)",
    Some("""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        FROM embeddings),
      st AS (
        SELECT label AS l, COUNT(*) * 1.0 AS cnt,
          AVG(v[1]) AS m1, var_samp(v[1]) AS s1,
          AVG(v[2]) AS m2, var_samp(v[2]) AS s2,
          AVG(v[3]) AS m3, var_samp(v[3]) AS s3,
          AVG(v[4]) AS m4, var_samp(v[4]) AS s4
        FROM e GROUP BY 1),
      ll AS (
        SELECT vec_id, label, l,
          ln(cnt)
            - 0.5 * ln(2 * pi() * s1) - pow(v[1] - m1, 2) / (2 * s1)
            - 0.5 * ln(2 * pi() * s2) - pow(v[2] - m2, 2) / (2 * s2)
            - 0.5 * ln(2 * pi() * s3) - pow(v[3] - m3, 2) / (2 * s3)
            - 0.5 * ln(2 * pi() * s4) - pow(v[4] - m4, 2) / (2 * s4)
            AS score
        FROM e, st),
      p AS (
        SELECT vec_id, label, l AS pred,
          ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY score DESC, l) AS rk
        FROM ll)
      SELECT CAST(label AS INTEGER) AS label, CAST(pred AS INTEGER) AS pred,
        COUNT(*) AS n
      FROM p WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) => naiveBayes(embeddings(s, d)))

  /** The q255 pipeline — MlOracleSpec pins perfect separation on two
    * shifted blobs and the prior tie-break on an ambiguous point. */
  def naiveBayes(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    def x(j: Int) = element_at(col("v"), j)
    val st = e.groupBy(col("label").as("l")).agg(
      (count(lit(1)) * lit(1.0)).as("cnt"),
      avg(x(1)).as("m1"), var_samp(x(1)).as("s1"),
      avg(x(2)).as("m2"), var_samp(x(2)).as("s2"),
      avg(x(3)).as("m3"), var_samp(x(3)).as("s3"),
      avg(x(4)).as("m4"), var_samp(x(4)).as("s4"))
    def term(j: Int, m: String, s: String): Column =
      lit(-0.5) * log(lit(2) * lit(math.Pi) * col(s)) -
        pow(x(j) - col(m), 2) / (lit(2) * col(s))
    val ll = e.crossJoin(broadcast(st))
      .select(col("vec_id"), col("label"), col("l"),
        (log(col("cnt")) + term(1, "m1", "s1") + term(2, "m2", "s2")
          + term(3, "m3", "s3") + term(4, "m4", "s4")).as("score"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("l"))
    ll.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .groupBy(col("label").cast("int").as("label"),
        col("l").cast("int").as("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred"))
  }

  /** Depth-1 decision tree (stump) for `l_returnflag = 'R'` over three
    * numeric features: the corpus collapses to a per-(feature, value)
    * histogram first (≤50 rows per feature — the features are discrete
    * grids), the threshold sweep is a cumulative window over that
    * histogram, and the reported split per feature minimizes weighted
    * Gini (ties → smaller threshold). The histogram-then-sweep shape
    * is what keeps an exact stump one shuffle at any corpus size.
    */
  val q256Stump = GraftQuery(
    "q256_stump",
    "decision stump for returnflag='R': best Gini split per numeric feature",
    Some("""WITH f AS (
        SELECT 'quantity' AS feature, l_quantity AS x,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS t FROM lineitem
        UNION ALL
        SELECT 'discount', l_discount,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
        UNION ALL
        SELECT 'tax', l_tax,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem),
      h AS (SELECT feature, x, COUNT(*) AS cnt, SUM(t) AS pos
            FROM f GROUP BY 1, 2),
      c AS (
        SELECT feature, x,
          SUM(cnt) OVER w AS nl, SUM(pos) OVER w AS pl,
          SUM(cnt) OVER (PARTITION BY feature) AS n,
          SUM(pos) OVER (PARTITION BY feature) AS p,
          ROW_NUMBER() OVER (PARTITION BY feature ORDER BY x DESC) AS last
        FROM h WINDOW w AS (PARTITION BY feature ORDER BY x)),
      g AS (
        SELECT feature, x AS threshold,
          2.0 * (pl * 1.0 / nl) * (1 - pl * 1.0 / nl) AS gl,
          2.0 * ((p - pl) * 1.0 / (n - nl))
            * (1 - (p - pl) * 1.0 / (n - nl)) AS gr,
          nl * 1.0 / n AS wl
        FROM c WHERE last > 1),
      b AS (
        SELECT feature, threshold, gl, gr,
          wl * gl + (1 - wl) * gr AS wg,
          ROW_NUMBER() OVER (PARTITION BY feature
            ORDER BY wl * gl + (1 - wl) * gr, threshold) AS rk
        FROM g)
      SELECT feature, threshold, ROUND(gl, 4) AS gini_left,
        ROUND(gr, 4) AS gini_right, ROUND(wg, 4) AS weighted_gini
      FROM b WHERE rk = 1 ORDER BY 1"""),
    (s, d) => stump(lineitem(s, d)))

  /** The q256 pipeline — MlOracleSpec pins a perfectly separable
    * feature (weighted Gini 0 at the true cut) beating a noise one. */
  def stump(li: DataFrame): DataFrame = {
    val t = when(col("l_returnflag") === "R", 1).otherwise(0)
    val f = li.select(lit("quantity").as("feature"),
        col("l_quantity").as("x"), t.as("t"))
      .unionAll(li.select(lit("discount"), col("l_discount"), t))
      .unionAll(li.select(lit("tax"), col("l_tax"), t))
    val h = f.groupBy(col("feature"), col("x"))
      .agg(count(lit(1)).as("cnt"), sum(col("t")).as("pos"))
    val wcum = Window.partitionBy(col("feature")).orderBy(col("x"))
    val wall = Window.partitionBy(col("feature"))
    val wdesc = Window.partitionBy(col("feature")).orderBy(col("x").desc)
    val c = h.select(col("feature"), col("x"),
      sum(col("cnt")).over(wcum).as("nl"), sum(col("pos")).over(wcum).as("pl"),
      sum(col("cnt")).over(wall).as("n"), sum(col("pos")).over(wall).as("p"),
      row_number().over(wdesc).as("last"))
    val g = c.filter(col("last") > 1).select(col("feature"),
      col("x").as("threshold"),
      (lit(2.0) * (col("pl") * lit(1.0) / col("nl"))
        * (lit(1) - col("pl") * lit(1.0) / col("nl"))).as("gl"),
      (lit(2.0) * ((col("p") - col("pl")) * lit(1.0) / (col("n") - col("nl")))
        * (lit(1) - (col("p") - col("pl")) * lit(1.0)
          / (col("n") - col("nl")))).as("gr"),
      (col("nl") * lit(1.0) / col("n")).as("wl"))
    val wg = col("wl") * col("gl") + (lit(1) - col("wl")) * col("gr")
    val wbest = Window.partitionBy(col("feature"))
      .orderBy(wg, col("threshold"))
    g.withColumn("rk", row_number().over(wbest)).filter(col("rk") === 1)
      .select(col("feature"), col("threshold"),
        round(col("gl"), 4).as("gini_left"),
        round(col("gr"), 4).as("gini_right"),
        round(wg, 4).as("weighted_gini"))
      .orderBy(col("feature"))
  }

  /** One Lloyd (k-means) iteration from pinned seeds (the vectors
    * with vec_id ∈ {0,100,200,300}): assign every vector to its
    * nearest seed (L2², ties → smaller seed id), then report per
    * cluster the size, WCSS against the seed, the centroid shift
    * ‖μ−c‖, and the post-update WCSS via the exact identity
    * Σ‖x−μ‖² = Σ‖x−c‖² − n‖μ−c‖² — the second scoring pass a naive
    * implementation makes is algebraically free. Distances fold
    * left-to-right over the zipped dims in both engines.
    */
  val q257LloydStep = GraftQuery(
    "q257_lloyd_step",
    "one k-means Lloyd step from pinned seeds: per-cluster size, WCSS before/after, shift",
    Some("""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cent AS (SELECT vec_id AS cl, v AS cv FROM e
               WHERE vec_id IN (0, 100, 200, 300)),
      d AS (
        SELECT vec_id, v, cl,
          list_reduce(list_prepend(0.0, list_transform(range(1, 65),
            i -> pow(v[i] - cv[i], 2))), (a, b) -> a + b) AS d2
        FROM e, cent),
      asg AS (
        SELECT vec_id, v, cl, d2, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY d2, cl) AS rk
        FROM d),
      a AS (SELECT vec_id, v, cl, d2 FROM asg WHERE rk = 1),
      mu AS (
        SELECT cl, r.range AS pos, AVG(v[r.range]) AS m
        FROM a, range(1, 65) r GROUP BY 1, 2),
      sh AS (
        SELECT mu.cl, SUM(pow(m - cv[pos], 2)) AS shift2
        FROM mu JOIN cent ON mu.cl = cent.cl GROUP BY 1),
      agg AS (
        SELECT cl, COUNT(*) AS n, SUM(d2) AS wb FROM a GROUP BY 1)
      SELECT agg.cl AS cluster, CAST(n AS BIGINT) AS n,
        ROUND(wb, 4) AS wcss_before,
        ROUND(wb - n * shift2, 4) AS wcss_after,
        ROUND(sqrt(shift2), 4) AS shift
      FROM agg JOIN sh ON agg.cl = sh.cl ORDER BY 1"""),
    (s, d) => lloydStep(embeddings(s, d), Seq(0L, 100L, 200L, 300L)))

  /** The q257 pipeline — MlOracleSpec pins a 1-dim hand trace (means,
    * the WCSS identity) and that wcss_after ≤ wcss_before always. */
  def lloydStep(emb: DataFrame, seeds: Seq[Long]): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(false) // feeds the centroid pick AND assignment
    val cent = e.filter(col("vec_id").isin(seeds: _*))
      .select(col("vec_id").as("cl"), col("v").as("cv"))
    val d = e.crossJoin(broadcast(cent))
      .withColumn("d2", expr(
        """aggregate(zip_with(v, cv, (x, c) -> (x - c) * (x - c)),
           cast(0.0 as double), (acc, t) -> acc + t)"""))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cl"))
    val a = d.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("v"), col("cl"), col("d2"))
      .localCheckpoint(false) // feeds sizes/WCSS AND the new means
    val mu = a.select(col("cl"), posexplode(col("v")).as(Seq("pos0", "x")))
      .groupBy(col("cl"), (col("pos0") + 1).as("pos"))
      .agg(avg(col("x")).as("m"))
    val sh = mu.join(broadcast(cent), Seq("cl"))
      .groupBy(col("cl"))
      .agg(sum(pow(col("m") - element_at(col("cv"), col("pos").cast("int")),
        2)).as("shift2"))
    val agg = a.groupBy(col("cl"))
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("wb"))
    agg.join(sh, Seq("cl"))
      .select(col("cl").as("cluster"), col("n").cast("long").as("n"),
        round(col("wb"), 4).as("wcss_before"),
        round(col("wb") - col("n") * col("shift2"), 4).as("wcss_after"),
        round(sqrt(col("shift2")), 4).as("shift"))
      .orderBy(col("cluster"))
  }

  /** Mahalanobis outlier fence over embedding dims 1–2 per label —
    * the MULTIVARIATE complement of q226's Hampel (univariate MAD)
    * fence: per-label mean vector and 2×2 sample covariance (one
    * moment pass), the closed-form inverse
    * Σ⁻¹ = [[c,−b],[−b,a]]/(ac−b²), then one scoring pass computing
    * d² = (x−μ)'Σ⁻¹(x−μ). Reported per label: n, mean d² (EXACTLY
    * p(n−1)/n = 2(n−1)/n by the trace identity
    * Σᵢ(xᵢ−x̄)'S⁻¹(xᵢ−x̄) = (n−1)p — the self-check column any other
    * value falsifies), max d², and
    * the count beyond the χ²₂ 99th percentile 9.21 (compared on the
    * 6dp-rounded d² so moment dust can't flip a boundary point).
    */
  val q265Mahalanobis = GraftQuery(
    "q265_mahalanobis",
    "Mahalanobis outlier fence (dims 1-2, chi2 99%) per embedding label",
    Some("""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        FROM embeddings),
      m AS (
        SELECT label AS l, COUNT(*) * 1.0 AS n,
          AVG(v[1]) AS m1, AVG(v[2]) AS m2,
          var_samp(v[1]) AS a, covar_samp(v[1], v[2]) AS b,
          var_samp(v[2]) AS c
        FROM e GROUP BY 1),
      d AS (
        SELECT label, n,
          ((v[1] - m1) * (c * (v[1] - m1) - b * (v[2] - m2))
            + (v[2] - m2) * (a * (v[2] - m2) - b * (v[1] - m1)))
            / (a * c - b * b) AS d2
        FROM e JOIN m ON e.label = m.l)
      SELECT CAST(label AS INTEGER) AS label, CAST(n AS BIGINT) AS n,
        ROUND(AVG(d2), 4) AS mean_d2, ROUND(MAX(d2), 4) AS max_d2,
        CAST(SUM(CASE WHEN ROUND(d2, 6) > 9.21 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_outliers
      FROM d GROUP BY 1, 2 ORDER BY 1"""),
    (s, d) => mahalanobis(embeddings(s, d)))

  /** The q265 pipeline — MlOracleSpec pins the trace identity
    * (mean d² = 2(n−1)/n on ANY non-degenerate cloud) and a planted
    * far point caught by the fence. */
  def mahalanobis(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label"))
    def x(j: Int) = element_at(col("v"), j)
    val m = e.groupBy(col("label").as("l")).agg(
      (count(lit(1)) * lit(1.0)).as("n"),
      avg(x(1)).as("m1"), avg(x(2)).as("m2"),
      var_samp(x(1)).as("a"), covar_samp(x(1), x(2)).as("b"),
      var_samp(x(2)).as("c"))
    val dx = x(1) - col("m1"); val dy = x(2) - col("m2")
    val quad = dx * (col("c") * dx - col("b") * dy) +
      dy * (col("a") * dy - col("b") * dx)
    val d2 = quad / (col("a") * col("c") - col("b") * col("b"))
    e.join(broadcast(m), col("label") === col("l"))
      .select(col("label"), col("n"), d2.as("d2"))
      .groupBy(col("label").cast("int").as("label"),
        col("n").cast("long").as("n"))
      .agg(round(avg(col("d2")), 4).as("mean_d2"),
        round(max(col("d2")), 4).as("max_d2"),
        sum(when(round(col("d2"), 6) > 9.21, 1).otherwise(0))
          .cast("long").as("n_outliers"))
      .orderBy(col("label"))
  }

  /** Exact 2-dimensional PCA per embedding label — the closed-form
    * slice of M2's PCA stage (music.md:640-659): eigenvalues of the
    * 2×2 sample covariance from the trace/determinant quadratic
    * λ = (tr ± √(tr² − 4·det))/2, explained-variance ratio λ₁/tr,
    * and the first principal axis angle θ = ½·atan2(2b, a−c) in
    * degrees — every quantity a pure scalar expression over the
    * 5-moment table, no iteration, no linear-algebra library.
    */
  val q266Pca2 = GraftQuery(
    "q266_pca2",
    "closed-form 2x2 PCA (dims 1-2) per label: eigenvalues, EVR, axis angle",
    Some("""WITH e AS (
        SELECT CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
      m AS (
        SELECT label, COUNT(*) AS n,
          var_samp(v[1]) AS a, covar_samp(v[1], v[2]) AS b,
          var_samp(v[2]) AS c
        FROM e GROUP BY 1)
      SELECT CAST(label AS INTEGER) AS label, CAST(n AS BIGINT) AS n,
        ROUND((a + c + sqrt(POW(a + c, 2) - 4 * (a * c - b * b))) / 2, 4)
          AS lambda1,
        ROUND((a + c - sqrt(POW(a + c, 2) - 4 * (a * c - b * b))) / 2, 4)
          AS lambda2,
        ROUND((a + c + sqrt(POW(a + c, 2) - 4 * (a * c - b * b))) / 2
          / (a + c), 4) AS evr1,
        ROUND(degrees(0.5 * atan2(2 * b, a - c)), 4) AS theta_deg
      FROM m ORDER BY 1"""),
    (s, d) => pca2(embeddings(s, d)))

  /** The q266 pipeline — MlOracleSpec pins a hand-rotated anisotropic
    * cloud (known eigenvalues and a 45° axis) and that λ₁+λ₂ = tr. */
  def pca2(emb: DataFrame): DataFrame = {
    val e = emb.select(col("embedding").cast("array<double>").as("v"),
      col("label"))
    def x(j: Int) = element_at(col("v"), j)
    val m = e.groupBy(col("label")).agg(count(lit(1)).as("n"),
      var_samp(x(1)).as("a"), covar_samp(x(1), x(2)).as("b"),
      var_samp(x(2)).as("c"))
    val tr = col("a") + col("c")
    val disc = sqrt(pow(tr, 2) - lit(4)
      * (col("a") * col("c") - col("b") * col("b")))
    m.select(col("label").cast("int").as("label"),
      col("n").cast("long").as("n"),
      round((tr + disc) / 2, 4).as("lambda1"),
      round((tr - disc) / 2, 4).as("lambda2"),
      round((tr + disc) / 2 / tr, 4).as("evr1"),
      round(degrees(lit(0.5) * atan2(lit(2) * col("b"),
        col("a") - col("c"))), 4).as("theta_deg"))
      .orderBy(col("label"))
  }

  /** Exact leave-one-out influence diagnostics for the q254 OLS — no
    * refitting: with the hat diagonal h_i = x_i'(X'X)⁻¹x_i (the same
    * closed-form 3×3 adjugate as q254), the LOO residual is
    * e_i/(1−h_i) exactly, so PRESS and Cook's distance come out of
    * ONE scoring pass. Reported per flag as dimensionless ratios —
    * press_ratio = PRESS/SSE (the LOO inflation factor) and
    * mean_h (= p/n EXACTLY by the trace identity Σh_i = p, the
    * self-check column) — because the raw sums sit at 1e13 where
    * cross-engine accumulation dust is absolute-visible; the ratios
    * cancel it. Residuals are computed from the 4dp-ROUNDED betas in
    * both engines so per-row e_i are bit-identical; Cook's
    * D = e²h/(p·s²(1−h)²), influence bar D > 4/n.
    */
  val q270LooInfluence = GraftQuery(
    "q270_loo_influence",
    "exact LOO diagnostics for the q254 OLS: PRESS ratio, mean hat, Cook's D",
    Some("""WITH m AS (
        SELECT l_returnflag,
          COUNT(*) * 1.0 AS a, SUM(l_quantity) AS b, SUM(l_discount) AS c,
          SUM(l_quantity * l_quantity) AS d,
          SUM(l_quantity * l_discount) AS e,
          SUM(l_discount * l_discount) AS f,
          SUM(l_extendedprice) AS sy,
          SUM(l_quantity * l_extendedprice) AS sqy,
          SUM(l_discount * l_extendedprice) AS sdy
        FROM lineitem GROUP BY 1),
      k AS (
        SELECT *, a * (d * f - e * e) - b * (b * f - c * e)
            + c * (b * e - c * d) AS det,
          d * f - e * e AS i00, c * e - b * f AS i01, b * e - c * d AS i02,
          a * f - c * c AS i11, b * c - a * e AS i12, a * d - b * b AS i22
        FROM m),
      bb AS (
        SELECT l_returnflag, a, det, i00, i01, i02, i11, i12, i22,
          ROUND((i00 * sy + i01 * sqy + i02 * sdy) / det, 4) AS b0,
          ROUND((i01 * sy + i11 * sqy + i12 * sdy) / det, 4) AS b1,
          ROUND((i02 * sy + i12 * sqy + i22 * sdy) / det, 4) AS b2
        FROM k),
      r AS (
        SELECT li.l_returnflag, a,
          l_extendedprice - (b0 + b1 * l_quantity + b2 * l_discount) AS e2,
          (i00 + 2 * i01 * l_quantity + 2 * i02 * l_discount
            + i11 * l_quantity * l_quantity
            + 2 * i12 * l_quantity * l_discount
            + i22 * l_discount * l_discount) / det AS h
        FROM lineitem li JOIN bb ON li.l_returnflag = bb.l_returnflag),
      s AS (
        SELECT l_returnflag, a AS n, SUM(e2 * e2) AS sse,
          SUM(POW(e2 / (1 - h), 2)) AS press, AVG(h) AS mean_h
        FROM r GROUP BY 1, 2),
      cd AS (
        SELECT r.l_returnflag,
          MAX(e2 * e2 * h / (3 * (sse / (n - 3)) * POW(1 - h, 2))) AS maxd,
          SUM(CASE WHEN e2 * e2 * h
            / (3 * (sse / (n - 3)) * POW(1 - h, 2)) > 4 / n
            THEN 1 ELSE 0 END) AS n_infl
        FROM r JOIN s ON r.l_returnflag = s.l_returnflag
        GROUP BY 1)
      SELECT s.l_returnflag, CAST(n AS BIGINT) AS n,
        ROUND(press / sse, 6) AS press_ratio,
        ROUND(mean_h, 8) AS mean_h,
        ROUND(maxd, 6) AS max_cooks,
        CAST(n_infl AS BIGINT) AS n_influential
      FROM s JOIN cd ON s.l_returnflag = cd.l_returnflag
      ORDER BY 1"""),
    (s, d) => looInfluence(lineitem(s, d)))

  /** Ridge shrinkage path for the q254 regression: the same 3×3
    * normal equations with λ added to the SLOPE diagonal only (the
    * intercept is never penalized — as λ→∞ the slopes shrink to 0
    * and the intercept recovers ȳ, which the spec pins), solved by
    * the same adjugate with d→d+λ, f→f+λ, over a literal λ grid
    * {0, 10³, 10⁵, 10⁷}. λ=0 reproduces q254 exactly. One moment
    * pass; the path is a 4-row explode on the 3-row moment table.
    */
  val q272RidgePath = GraftQuery(
    "q272_ridge_path",
    "ridge shrinkage path (λ = 0/1e3/1e5/1e7) for price ~ quantity + discount",
    Some("""WITH m AS (
        SELECT l_returnflag,
          COUNT(*) * 1.0 AS a, SUM(l_quantity) AS b, SUM(l_discount) AS c,
          SUM(l_quantity * l_quantity) AS d0,
          SUM(l_quantity * l_discount) AS e,
          SUM(l_discount * l_discount) AS f0,
          SUM(l_extendedprice) AS sy,
          SUM(l_quantity * l_extendedprice) AS sqy,
          SUM(l_discount * l_extendedprice) AS sdy
        FROM lineitem GROUP BY 1),
      g AS (
        SELECT m.*, unnest([0.0, 1000.0, 100000.0, 10000000.0]::DOUBLE[])
          AS lam
        FROM m),
      k AS (
        SELECT l_returnflag, lam, sy, sqy, sdy,
          d0 + lam AS d, f0 + lam AS f, a, b, c, e
        FROM g),
      z AS (
        SELECT l_returnflag, lam,
          a * (d * f - e * e) - b * (b * f - c * e)
            + c * (b * e - c * d) AS det,
          d * f - e * e AS i00, c * e - b * f AS i01, b * e - c * d AS i02,
          a * f - c * c AS i11, b * c - a * e AS i12, a * d - b * b AS i22,
          sy, sqy, sdy
        FROM k)
      SELECT l_returnflag, lam,
        ROUND((i00 * sy + i01 * sqy + i02 * sdy) / det, 4) AS beta0,
        ROUND((i01 * sy + i11 * sqy + i12 * sdy) / det, 4) AS beta1,
        ROUND((i02 * sy + i12 * sqy + i22 * sdy) / det, 4) AS beta2,
        ROUND(sqrt(POW((i01 * sy + i11 * sqy + i12 * sdy) / det, 2)
          + POW((i02 * sy + i12 * sqy + i22 * sdy) / det, 2)), 4)
          AS slope_l2
      FROM z ORDER BY 1, 2"""),
    (s, d) => ridgePath(lineitem(s, d),
      Seq(0.0, 1000.0, 100000.0, 10000000.0)))

  /** The q272 pipeline — MlOracleSpec pins λ=0 == OLS and the λ→∞
    * limit (slopes → 0, intercept → ȳ). */
  def ridgePath(li: DataFrame, lambdas: Seq[Double]): DataFrame = {
    val qn = col("l_quantity"); val dc = col("l_discount")
    val y = col("l_extendedprice")
    val m = li.groupBy(col("l_returnflag")).agg(
      (count(lit(1)) * lit(1.0)).as("a"), sum(qn).as("b"), sum(dc).as("c"),
      sum(qn * qn).as("d0"), sum(qn * dc).as("e"), sum(dc * dc).as("f0"),
      sum(y).as("sy"), sum(qn * y).as("sqy"), sum(dc * y).as("sdy"))
    val g = m.select(col("*"),
        explode(array(lambdas.map(lit): _*)).as("lam"))
      .withColumn("d", col("d0") + col("lam"))
      .withColumn("f", col("f0") + col("lam"))
    val z = g
      .withColumn("det", col("a") * (col("d") * col("f") - col("e") * col("e"))
        - col("b") * (col("b") * col("f") - col("c") * col("e"))
        + col("c") * (col("b") * col("e") - col("c") * col("d")))
      .withColumn("i00", col("d") * col("f") - col("e") * col("e"))
      .withColumn("i01", col("c") * col("e") - col("b") * col("f"))
      .withColumn("i02", col("b") * col("e") - col("c") * col("d"))
      .withColumn("i11", col("a") * col("f") - col("c") * col("c"))
      .withColumn("i12", col("b") * col("c") - col("a") * col("e"))
      .withColumn("i22", col("a") * col("d") - col("b") * col("b"))
    val b1 = (col("i01") * col("sy") + col("i11") * col("sqy")
      + col("i12") * col("sdy")) / col("det")
    val b2 = (col("i02") * col("sy") + col("i12") * col("sqy")
      + col("i22") * col("sdy")) / col("det")
    z.select(col("l_returnflag"), col("lam"),
        round((col("i00") * col("sy") + col("i01") * col("sqy")
          + col("i02") * col("sdy")) / col("det"), 4).as("beta0"),
        round(b1, 4).as("beta1"), round(b2, 4).as("beta2"),
        round(sqrt(pow(b1, 2) + pow(b2, 2)), 4).as("slope_l2"))
      .orderBy(col("l_returnflag"), col("lam"))
  }

  /** One exact gradient-boosting round per return flag: stage 0 is
    * the per-flag mean, the round fits a REGRESSION stump (SSE
    * criterion) to the residuals — the depth-1 slice of M5's GBT
    * mechanism with a value-exact oracle. The sweep runs over the
    * per-(feature, value) histogram of residual (count, sum, sumsq)
    * cumulative sums; split choice ranks on the DIMENSIONLESS
    * 9dp-rounded SSE ratio (cost/base — raw SSEs sit at 1e13 where
    * accumulation dust is absolute-visible), ties → feature then
    * threshold. Leaf values are the residual means; the reported
    * gain is 1 − cost/base.
    */
  val q273BoostRound = GraftQuery(
    "q273_boost_round",
    "one exact GBT round: SSE stump on residuals of the per-flag mean",
    Some("""WITH mu AS (
        SELECT l_returnflag, AVG(l_extendedprice) AS m
        FROM lineitem GROUP BY 1),
      f AS (
        SELECT li.l_returnflag, fx.feature, fx.x,
          l_extendedprice - m AS r
        FROM lineitem li JOIN mu ON li.l_returnflag = mu.l_returnflag,
          LATERAL (VALUES ('quantity', l_quantity), ('discount', l_discount),
            ('tax', l_tax)) AS fx(feature, x)),
      h AS (
        SELECT l_returnflag, feature, x, COUNT(*) AS cnt,
          SUM(r) AS s, SUM(r * r) AS ss
        FROM f GROUP BY 1, 2, 3),
      c AS (
        SELECT l_returnflag, feature, x,
          SUM(cnt) OVER w AS nl, SUM(s) OVER w AS sl, SUM(ss) OVER w AS ssl,
          SUM(cnt) OVER t AS n, SUM(s) OVER t AS st, SUM(ss) OVER t AS sst,
          ROW_NUMBER() OVER (PARTITION BY l_returnflag, feature
            ORDER BY x DESC) AS last
        FROM h
        WINDOW w AS (PARTITION BY l_returnflag, feature ORDER BY x),
          t AS (PARTITION BY l_returnflag, feature)),
      g AS (
        SELECT l_returnflag, feature, x AS threshold,
          sl / nl AS left_val, (st - sl) / (n - nl) AS right_val,
          ((ssl - sl * sl / nl)
            + ((sst - ssl) - (st - sl) * (st - sl) / (n - nl)))
            / (sst - st * st / n) AS cost_ratio
        FROM c WHERE last > 1),
      b AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
          ORDER BY ROUND(cost_ratio, 9), feature, threshold) AS rk
        FROM g)
      SELECT l_returnflag, feature, threshold,
        ROUND(left_val, 4) AS left_val, ROUND(right_val, 4) AS right_val,
        ROUND(1 - cost_ratio, 6) AS sse_gain
      FROM b WHERE rk = 1 ORDER BY 1"""),
    (s, d) => boostRound(lineitem(s, d)))

  /** The q273 pipeline — MlOracleSpec plants a stepwise target where
    * the stump recovers the step exactly (gain → 1) and the leaves
    * are the step means around the stage-0 mean. */
  def boostRound(li: DataFrame): DataFrame = {
    val mu = li.groupBy(col("l_returnflag"))
      .agg(avg(col("l_extendedprice")).as("m"))
    val base = li.join(broadcast(mu), Seq("l_returnflag"))
      .withColumn("r", col("l_extendedprice") - col("m"))
    val f = base.select(col("l_returnflag"), lit("quantity").as("feature"),
        col("l_quantity").as("x"), col("r"))
      .unionAll(base.select(col("l_returnflag"), lit("discount"),
        col("l_discount"), col("r")))
      .unionAll(base.select(col("l_returnflag"), lit("tax"),
        col("l_tax"), col("r")))
    val h = f.groupBy(col("l_returnflag"), col("feature"), col("x"))
      .agg(count(lit(1)).as("cnt"), sum(col("r")).as("s"),
        sum(col("r") * col("r")).as("ss"))
    val wc = Window.partitionBy(col("l_returnflag"), col("feature"))
      .orderBy(col("x"))
    val wt = Window.partitionBy(col("l_returnflag"), col("feature"))
    val wd = Window.partitionBy(col("l_returnflag"), col("feature"))
      .orderBy(col("x").desc)
    val c = h.select(col("l_returnflag"), col("feature"), col("x"),
      sum(col("cnt")).over(wc).as("nl"), sum(col("s")).over(wc).as("sl"),
      sum(col("ss")).over(wc).as("ssl"),
      sum(col("cnt")).over(wt).as("n"), sum(col("s")).over(wt).as("st"),
      sum(col("ss")).over(wt).as("sst"),
      row_number().over(wd).as("last"))
    val costRatio = ((col("ssl") - col("sl") * col("sl") / col("nl"))
      + ((col("sst") - col("ssl"))
        - (col("st") - col("sl")) * (col("st") - col("sl"))
          / (col("n") - col("nl"))))
      ./(col("sst") - col("st") * col("st") / col("n"))
    val g = c.filter(col("last") > 1).select(col("l_returnflag"),
      col("feature"), col("x").as("threshold"),
      (col("sl") / col("nl")).as("left_val"),
      ((col("st") - col("sl")) / (col("n") - col("nl"))).as("right_val"),
      costRatio.as("cost_ratio"))
    val wb = Window.partitionBy(col("l_returnflag"))
      .orderBy(round(col("cost_ratio"), 9), col("feature"),
        col("threshold"))
    g.withColumn("rk", row_number().over(wb)).filter(col("rk") === 1)
      .select(col("l_returnflag"), col("feature"), col("threshold"),
        round(col("left_val"), 4).as("left_val"),
        round(col("right_val"), 4).as("right_val"),
        round(lit(1) - col("cost_ratio"), 6).as("sse_gain"))
      .orderBy(col("l_returnflag"))
  }

  /** The q270 pipeline — MlOracleSpec pins Σh = p on any frame and
    * that a planted leverage point owns max Cook's D. */
  def looInfluence(li: DataFrame): DataFrame = {
    val qn = col("l_quantity"); val dc = col("l_discount")
    val y = col("l_extendedprice")
    val m = li.groupBy(col("l_returnflag")).agg(
      (count(lit(1)) * lit(1.0)).as("a"), sum(qn).as("b"), sum(dc).as("c"),
      sum(qn * qn).as("d"), sum(qn * dc).as("e"), sum(dc * dc).as("f"),
      sum(y).as("sy"), sum(qn * y).as("sqy"), sum(dc * y).as("sdy"))
    val k = m
      .withColumn("det", col("a") * (col("d") * col("f") - col("e") * col("e"))
        - col("b") * (col("b") * col("f") - col("c") * col("e"))
        + col("c") * (col("b") * col("e") - col("c") * col("d")))
      .withColumn("i00", col("d") * col("f") - col("e") * col("e"))
      .withColumn("i01", col("c") * col("e") - col("b") * col("f"))
      .withColumn("i02", col("b") * col("e") - col("c") * col("d"))
      .withColumn("i11", col("a") * col("f") - col("c") * col("c"))
      .withColumn("i12", col("b") * col("c") - col("a") * col("e"))
      .withColumn("i22", col("a") * col("d") - col("b") * col("b"))
    val bb = k.select(col("l_returnflag").as("fl"), col("a"), col("det"),
      col("i00"), col("i01"), col("i02"), col("i11"), col("i12"), col("i22"),
      round((col("i00") * col("sy") + col("i01") * col("sqy")
        + col("i02") * col("sdy")) / col("det"), 4).as("b0"),
      round((col("i01") * col("sy") + col("i11") * col("sqy")
        + col("i12") * col("sdy")) / col("det"), 4).as("b1"),
      round((col("i02") * col("sy") + col("i12") * col("sqy")
        + col("i22") * col("sdy")) / col("det"), 4).as("b2"))
    val r = li.join(broadcast(bb), col("l_returnflag") === col("fl"))
      .select(col("l_returnflag"), col("a"),
        (y - (col("b0") + col("b1") * qn + col("b2") * dc)).as("e2"),
        ((col("i00") + lit(2) * col("i01") * qn + lit(2) * col("i02") * dc
          + col("i11") * qn * qn + lit(2) * col("i12") * qn * dc
          + col("i22") * dc * dc) / col("det")).as("h"))
      .localCheckpoint(false) // feeds the SSE/PRESS pass AND Cook's pass
    val s = r.groupBy(col("l_returnflag"), col("a").as("n"))
      .agg(sum(col("e2") * col("e2")).as("sse"),
        sum(pow(col("e2") / (lit(1) - col("h")), 2)).as("press"),
        avg(col("h")).as("mean_h"))
    val dExpr = col("e2") * col("e2") * col("h") /
      (lit(3) * (col("sse") / (col("n") - 3))
        * pow(lit(1) - col("h"), 2))
    val cd = r.join(broadcast(s.select(col("l_returnflag"), col("n"),
        col("sse"))), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(max(dExpr).as("maxd"),
        sum(when(dExpr > lit(4) / col("n"), 1).otherwise(0)).as("n_infl"))
    s.join(cd, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n").cast("long").as("n"),
        round(col("press") / col("sse"), 6).as("press_ratio"),
        round(col("mean_h"), 8).as("mean_h"),
        round(col("maxd"), 6).as("max_cooks"),
        col("n_infl").cast("long").as("n_influential"))
      .orderBy(col("l_returnflag"))
  }

  /** Logistic regression `P(returnflag='R') ~ quantity + discount` per
    * line status, advanced by TWO exact Newton/IRLS steps from β = 0 —
    * the family's first GLM: unlike OLS there is no closed-form
    * solution, but each Newton step IS closed form given the previous
    * β, so the iterative fit becomes a chain of value-exact rounds
    * (music.md:618-748's regression stage, re-expressed for the
    * logistic link). Step 1 exploits W = ¼I at β = 0 (β¹ = 4(X'X)⁻¹
    * X'(y−½) — the same 3×3 adjugate as q254); step 2 re-weights with
    * w = p(1−p) at β¹ and solves X'WX·δ = X'(y−p).
    *
    * Scale: each step is ONE moment pass over the corpus (9-10 sums
    * per group) + scalar arithmetic on the per-group row — IRLS at
    * 100 TB is k passes, never a driver-side solve over row data.
    *
    * Float discipline: β is rounded 4dp between steps (the q270
    * convention), so both engines run step 2 and the metric passes
    * from IDENTICAL coefficients; accuracy compares η > 0 (pure
    * arithmetic, no transcendental); the log-likelihood uses the
    * overflow-safe max(η,0)+ln(1+e^−|η|) form, identical token-for-
    * token in both engines, and is reported 4dp.
    */
  val q282IrlsStep = GraftQuery(
    "q282_irls_step",
    "logistic regression returnflag='R' ~ quantity + discount: two exact Newton/IRLS steps per line status",
    Some("""WITH base AS (
        SELECT l_linestatus AS ls,
          CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
          l_quantity AS q, l_discount AS dc
        FROM lineitem),
      m0 AS (
        SELECT ls, COUNT(*) * 1.0 AS a, SUM(q) AS b, SUM(dc) AS c,
          SUM(q * q) AS d, SUM(q * dc) AS e, SUM(dc * dc) AS f,
          SUM(y - 0.5) AS g0, SUM(q * (y - 0.5)) AS g1,
          SUM(dc * (y - 0.5)) AS g2
        FROM base GROUP BY 1),
      k0 AS (
        SELECT *, a * (d * f - e * e) - b * (b * f - c * e)
            + c * (b * e - c * d) AS det,
          d * f - e * e AS i00, c * e - b * f AS i01, b * e - c * d AS i02,
          a * f - c * c AS i11, b * c - a * e AS i12, a * d - b * b AS i22
        FROM m0),
      b1 AS (
        SELECT ls, a,
          ROUND(4 * (i00 * g0 + i01 * g1 + i02 * g2) / det, 4) + 0.0 AS b0,
          ROUND(4 * (i01 * g0 + i11 * g1 + i12 * g2) / det, 4) + 0.0 AS b1,
          ROUND(4 * (i02 * g0 + i12 * g1 + i22 * g2) / det, 4) + 0.0 AS b2
        FROM k0),
      p1 AS (
        SELECT base.ls, y, q, dc, b0, b1, b2, a,
          b0 + b1 * q + b2 * dc AS eta,
          1.0 / (1.0 + exp(-(b0 + b1 * q + b2 * dc))) AS p
        FROM base JOIN b1 ON base.ls = b1.ls),
      m1 AS (
        SELECT ls, b0, b1, b2, a,
          SUM(y * eta - (GREATEST(eta, 0) + ln(1 + exp(-ABS(eta)))))
            AS ll1,
          SUM(CASE WHEN (eta > 0) = (y = 1.0) THEN 1 ELSE 0 END) AS acc1,
          SUM(p * (1 - p)) AS wa, SUM(p * (1 - p) * q) AS wb,
          SUM(p * (1 - p) * dc) AS wc, SUM(p * (1 - p) * q * q) AS wd,
          SUM(p * (1 - p) * q * dc) AS we,
          SUM(p * (1 - p) * dc * dc) AS wf,
          SUM(y - p) AS h0, SUM(q * (y - p)) AS h1, SUM(dc * (y - p)) AS h2
        FROM p1 GROUP BY 1, 2, 3, 4, 5),
      k1 AS (
        SELECT *, wa * (wd * wf - we * we) - wb * (wb * wf - wc * we)
            + wc * (wb * we - wc * wd) AS det,
          wd * wf - we * we AS i00, wc * we - wb * wf AS i01,
          wb * we - wc * wd AS i02, wa * wf - wc * wc AS i11,
          wb * wc - wa * we AS i12, wa * wd - wb * wb AS i22
        FROM m1),
      b2t AS (
        SELECT ls, a, ll1, acc1,
          ROUND(b0 + (i00 * h0 + i01 * h1 + i02 * h2) / det, 4) + 0.0 AS c0,
          ROUND(b1 + (i01 * h0 + i11 * h1 + i12 * h2) / det, 4) + 0.0 AS c1,
          ROUND(b2 + (i02 * h0 + i12 * h1 + i22 * h2) / det, 4) + 0.0 AS c2,
          b0, b1, b2
        FROM k1),
      m2 AS (
        SELECT base.ls,
          SUM(y * (c0 + c1 * q + c2 * dc)
            - (GREATEST(c0 + c1 * q + c2 * dc, 0)
               + ln(1 + exp(-ABS(c0 + c1 * q + c2 * dc))))) AS ll2,
          SUM(CASE WHEN ((c0 + c1 * q + c2 * dc) > 0) = (y = 1.0)
            THEN 1 ELSE 0 END) AS acc2
        FROM base JOIN b2t ON base.ls = b2t.ls GROUP BY 1)
      SELECT ls AS l_linestatus, step, beta0, beta1, beta2,
        ROUND(loglik, 4) AS loglik, accuracy, n
      FROM (
        SELECT b2t.ls, 1 AS step, b0 AS beta0, b1 AS beta1, b2 AS beta2,
          ll1 AS loglik, CAST(acc1 AS BIGINT) AS accuracy,
          CAST(a AS BIGINT) AS n
        FROM b2t
        UNION ALL
        SELECT b2t.ls, 2, c0, c1, c2, ll2, CAST(acc2 AS BIGINT),
          CAST(a AS BIGINT)
        FROM b2t JOIN m2 ON b2t.ls = m2.ls)
      ORDER BY 1, 2"""),
    (s, d) => irlsStep(lineitem(s, d)))

  /** The q282 pipeline — MlOracleSpec hand-traces both steps on an
    * orthogonal-design frame (β¹ = (0,2,0), β² = (0,3.1353,0), the
    * step-1 log-likelihood −0.5077 and 4/4 accuracy). */
  def irlsStep(li: DataFrame): DataFrame = {
    val base = li.select(col("l_linestatus").as("ls"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"),
        col("l_quantity").as("q"), col("l_discount").as("dc"))
    // shared 3x3 symmetric solve via the adjugate (the q254 idiom):
    // columns (a..f) are the matrix moments, (g0..g2) the RHS
    def adjugate(df: DataFrame): DataFrame = df
      .withColumn("det", col("a") * (col("d") * col("f") - col("e") * col("e"))
        - col("b") * (col("b") * col("f") - col("c") * col("e"))
        + col("c") * (col("b") * col("e") - col("c") * col("d")))
      .withColumn("i00", col("d") * col("f") - col("e") * col("e"))
      .withColumn("i01", col("c") * col("e") - col("b") * col("f"))
      .withColumn("i02", col("b") * col("e") - col("c") * col("d"))
      .withColumn("i11", col("a") * col("f") - col("c") * col("c"))
      .withColumn("i12", col("b") * col("c") - col("a") * col("e"))
      .withColumn("i22", col("a") * col("d") - col("b") * col("b"))
    val m0 = adjugate(base.groupBy(col("ls")).agg(
      (count(lit(1)) * lit(1.0)).as("a"), sum(col("q")).as("b"),
      sum(col("dc")).as("c"), sum(col("q") * col("q")).as("d"),
      sum(col("q") * col("dc")).as("e"), sum(col("dc") * col("dc")).as("f"),
      sum(col("y") - 0.5).as("g0"), sum(col("q") * (col("y") - 0.5)).as("g1"),
      sum(col("dc") * (col("y") - 0.5)).as("g2")))
    // + 0.0 normalizes IEEE signed zero: a coefficient rounding to
    // zero from below emitted -0.0 on one engine and 0.0 on the other
    // (round-10 sf0.1 sweep, beta1 of linestatus 'O' — equal values,
    // different bytes, the q286 hash-sensitivity class)
    def solve(p: String) = round(lit(4) *
      (col(s"i0${p.toInt}") * col("g0")
        + col(if (p == "0") "i01" else if (p == "1") "i11" else "i12") * col("g1")
        + col(if (p == "0") "i02" else if (p == "1") "i12" else "i22") * col("g2"))
      / col("det"), 4) + lit(0.0)
    val beta1 = m0.select(col("ls").as("ls1"), col("a").as("n0"),
      solve("0").as("b0"), solve("1").as("b1"), solve("2").as("b2"))
    val eta = col("b0") + col("b1") * col("q") + col("b2") * col("dc")
    val pCol = lit(1.0) / (lit(1.0) + exp(-eta))
    val w = pCol * (lit(1) - pCol)
    val llTerm = col("y") * eta -
      (greatest(eta, lit(0)) + log(lit(1) + exp(-abs(eta))))
    val accTerm = when((eta > 0) === (col("y") === 1.0), 1).otherwise(0)
    val m1 = adjugate(base.join(broadcast(beta1), col("ls") === col("ls1"))
      .groupBy(col("ls"), col("b0"), col("b1"), col("b2"), col("n0"))
      .agg(sum(llTerm).as("ll1"), sum(accTerm).as("acc1"),
        sum(w).as("a"), sum(w * col("q")).as("b"),
        sum(w * col("dc")).as("c"), sum(w * col("q") * col("q")).as("d"),
        sum(w * col("q") * col("dc")).as("e"),
        sum(w * col("dc") * col("dc")).as("f"),
        sum(col("y") - pCol).as("g0"),
        sum(col("q") * (col("y") - pCol)).as("g1"),
        sum(col("dc") * (col("y") - pCol)).as("g2")))
    def step2(j: String) = round(col(s"b$j") +
      (col(s"i0$j") * col("g0")
        + col(if (j == "0") "i01" else if (j == "1") "i11" else "i12") * col("g1")
        + col(if (j == "0") "i02" else if (j == "1") "i12" else "i22") * col("g2"))
      / col("det"), 4) + lit(0.0)
    val beta2 = m1.select(col("ls").as("ls1"), col("n0"),
        col("ll1"), col("acc1"), col("b0"), col("b1"), col("b2"),
        step2("0").as("c0"), step2("1").as("c1"), step2("2").as("c2"))
      .localCheckpoint(false) // 2 rows; feeds the metric pass AND both
                             // output rows (its lineage is a full pass)
    val eta2 = col("c0") + col("c1") * col("q") + col("c2") * col("dc")
    val ll2Term = col("y") * eta2 -
      (greatest(eta2, lit(0)) + log(lit(1) + exp(-abs(eta2))))
    val acc2Term = when((eta2 > 0) === (col("y") === 1.0), 1).otherwise(0)
    val m2 = base.join(broadcast(beta2.select(col("ls1"), col("c0"),
        col("c1"), col("c2"))), col("ls") === col("ls1"))
      .groupBy(col("ls"))
      .agg(sum(ll2Term).as("ll2"), sum(acc2Term).as("acc2"))
    val step1 = beta2.select(col("ls1").as("l_linestatus"),
      lit(1).as("step"), col("b0").as("beta0"), col("b1").as("beta1"),
      col("b2").as("beta2"), round(col("ll1"), 4).as("loglik"),
      col("acc1").cast("long").as("accuracy"), col("n0").cast("long").as("n"))
    val step2Row = beta2.join(m2, col("ls1") === col("ls"))
      .select(col("ls1").as("l_linestatus"), lit(2).as("step"),
        col("c0").as("beta0"), col("c1").as("beta1"), col("c2").as("beta2"),
        round(col("ll2"), 4).as("loglik"),
        col("acc2").cast("long").as("accuracy"), col("n0").cast("long").as("n"))
    step1.unionAll(step2Row)
      .orderBy(col("l_linestatus"), col("step"))
  }

  /** One exact EM step of a 2-topic unigram mixture over `documents`
    * — the family's first LATENT-VARIABLE fit. Initialization is
    * deterministic: topic 1 up-weights tokens whose md5 first hex
    * digit is odd (p₁(w) ∝ 1+b_w, p₂(w) ∝ 2−b_w, π = ½), which makes
    * the per-doc log-odds COLLAPSE to closed form: L_d = ln2·(2C₁−n_d)
    * − n_d·ln(Z₁/Z₂) with C₁ = doc's odd-parity token count and
    * Z₁ = V+B, Z₂ = 2V−B integer vocab totals — so the E-step
    * responsibility r_d = σ(L_d) is a per-doc scalar with NO
    * cross-row accumulation (float-exact across engines). The M-step
    * is three aggregations over (r_d-weighted) token counts. Readout:
    * the per-source responsibility profile plus the updated π and
    * each topic's probability mass on odd-parity tokens (sharpened
    * from the initial 2/3 vs 1/3 — the one-step EM direction).
    *
    * Scale: tokenize → (doc, token) counts (one shuffle), vocab
    * totals (one distinct), per-doc stats (one group-by), then the
    * M-step re-joins counts to the per-doc r table ON doc_id —
    * everything equi-keyed; the only broadcasts are 1-row scalar
    * tables (vocab totals, M-step sums).
    */
  val q283EmTopics = GraftQuery(
    "q283_em_topics",
    "one exact EM step of a 2-topic unigram mixture: per-source responsibility profile + updated pi and topic parity masses",
    Some("""WITH toks AS (
        SELECT doc_id, source, unnest(list_filter(
          regexp_split_to_array(lower(trim(text)), '\s+'),
          t -> len(t) > 0)) AS w
        FROM documents),
      tc AS (
        SELECT doc_id, source, w, COUNT(*) AS c
        FROM toks GROUP BY 1, 2, 3),
      tb AS (
        SELECT *, CAST('0x' || substr(md5(w), 1, 1) AS BIGINT) % 2 AS bw
        FROM tc),
      voc AS (
        SELECT COUNT(*) * 1.0 AS v, SUM(bw) * 1.0 AS bb
        FROM (SELECT DISTINCT w, bw FROM tb)),
      ds AS (
        SELECT doc_id, source, SUM(c) AS n, SUM(c * bw) AS c1
        FROM tb GROUP BY 1, 2),
      dr AS (
        SELECT doc_id, source, n,
          1.0 / (1.0 + exp(-(ln(2.0) * (2 * c1 - n)
            - n * ln((v + bb) / (2 * v - bb))))) AS r
        FROM ds, voc),
      g AS (
        SELECT SUM(r) AS sr, COUNT(*) * 1.0 AS nd,
          SUM(r * n) AS rn, SUM((1 - r) * n) AS qn
        FROM dr),
      mm AS (
        SELECT SUM(dr.r * tb.c * tb.bw) AS s1b,
          SUM((1 - dr.r) * tb.c * tb.bw) AS s2b
        FROM tb JOIN dr ON tb.doc_id = dr.doc_id),
      ps AS (
        SELECT source, COUNT(*) AS n_docs, AVG(r) AS mr
        FROM dr GROUP BY 1)
      SELECT ps.source, CAST(n_docs AS BIGINT) AS n_docs,
        ROUND(mr, 6) AS mean_resp,
        ROUND(g.sr / g.nd, 6) AS pi_new,
        ROUND(mm.s1b / g.rn, 6) AS mass1_odd,
        ROUND(mm.s2b / g.qn, 6) AS mass2_odd
      FROM ps, g, mm ORDER BY 1"""),
    (s, d) => emTopics(documents(s, d)))

  /** The q283 pipeline — MlOracleSpec plants pure-parity docs (parity
    * computed with java MessageDigest) and pins the exact σ(n·ln2)
    * responsibilities, the updated π, and that one step sharpens the
    * parity masses from the initial 2/3 toward 1. */
  def emTopics(docs: DataFrame): DataFrame = {
    val tb = docs.select(col("doc_id"), col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .withColumn("bw",
        expr("cast(conv(substring(md5(w), 1, 1), 16, 10) as bigint) % 2"))
      .localCheckpoint(false) // feeds vocab totals, doc stats, M-step
    val voc = tb.select(col("w"), col("bw")).distinct()
      .agg((count(lit(1)) * lit(1.0)).as("v"), (sum(col("bw")) * lit(1.0)).as("bb"))
    val ds = tb.groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("bw")).as("c1"))
    val dr = ds.crossJoin(broadcast(voc))
      .select(col("doc_id"), col("source"), col("n"),
        (lit(1.0) / (lit(1.0) + exp(-(log(lit(2.0)) * (lit(2) * col("c1") - col("n"))
          - col("n") * log((col("v") + col("bb"))
            / (lit(2) * col("v") - col("bb"))))))).as("r"))
      .localCheckpoint(false) // feeds per-source profile, globals, M-step
    val g = dr.agg(sum(col("r")).as("sr"), (count(lit(1)) * lit(1.0)).as("nd"),
      sum(col("r") * col("n")).as("rn"),
      sum((lit(1) - col("r")) * col("n")).as("qn"))
    val mm = tb.join(dr.select(col("doc_id").as("did"), col("r")),
        col("doc_id") === col("did"))
      .agg(sum(col("r") * col("c") * col("bw")).as("s1b"),
        sum((lit(1) - col("r")) * col("c") * col("bw")).as("s2b"))
    val ps = dr.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), avg(col("r")).as("mr"))
    ps.crossJoin(broadcast(g)).crossJoin(broadcast(mm))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        round(col("mr"), 6).as("mean_resp"),
        round(col("sr") / col("nd"), 6).as("pi_new"),
        round(col("s1b") / col("rn"), 6).as("mass1_odd"),
        round(col("s2b") / col("qn"), 6).as("mass2_odd"))
      .orderBy(col("source"))
  }

  /** Isotonic (monotone non-decreasing) regression of the weekly
    * total quantity per return flag — the calibration primitive
    * behind monotone probability calibration and dose-response fits,
    * exact via the minimax characterization ŷᵢ = max_{j≤i} min_{k≥i}
    * mean(y[j..k]) (equivalent to pool-adjacent-violators; Robertson/
    * Wright/Dykstra, *Order Restricted Statistical Inference*). PAV
    * itself is inherently sequential; the minimax form is a
    * self-join + two windows + one aggregate — fully parallel.
    *
    * Scale design: the x-axis is CALENDAR WEEKS — a domain constant,
    * not a corpus dimension — so the interval table is ≤ (52·years)²
    * rows per group at ANY corpus scale; the only data-bound pass is
    * the weekly aggregate's single shuffle. The interval join is an
    * equi-join on the group key with a j≤k residual (hash/sort-merge,
    * no BNLJ), the suffix-min window partitions by (group, j), and
    * the final max is a hash aggregate.
    *
    * Float discipline: quantities are integer-valued, and IEEE sums
    * of integers below 2⁵³ are EXACT in any accumulation order, so
    * the weekly series and its prefix sums are engine-identical
    * integers with no rounding step at all; the single division
    * (sum / len) is a correctly-rounded IEEE op on exact integers, so
    * min/max/fit are bit-identical across engines. (The first cut
    * used ROUND(AVG·100) cents — engine-order dust flips that at
    * half-cent boundaries; q286 hit the same trap and both moved to
    * exact integer sums.)
    */
  val q285Isotonic = GraftQuery(
    "q285_isotonic",
    "isotonic fit of weekly total quantity per return flag (minimax closed form)",
    Some("""WITH w AS (
        SELECT l_returnflag, date_trunc('week', l_shipdate) AS wk,
          CAST(SUM(l_quantity) AS BIGINT) AS y
        FROM lineitem GROUP BY 1, 2),
      i AS (
        SELECT l_returnflag, wk, y,
          ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY wk) AS i
        FROM w),
      p AS (
        SELECT l_returnflag, i, y,
          SUM(y) OVER (PARTITION BY l_returnflag ORDER BY i) AS s
        FROM i),
      pr AS (
        SELECT a.l_returnflag, a.i AS j, a.s - a.y AS spj,
          b.i AS k, b.s AS sk
        FROM p a JOIN p b ON a.l_returnflag = b.l_returnflag AND a.i <= b.i),
      m AS (
        SELECT l_returnflag, j, k,
          MIN(CAST(sk - spj AS DOUBLE) / (k - j + 1)) OVER (
            PARTITION BY l_returnflag, j ORDER BY k DESC) AS mn
        FROM pr),
      f AS (
        SELECT l_returnflag, k AS i, MAX(mn) AS fit
        FROM m GROUP BY 1, 2)
      SELECT i.l_returnflag, CAST(i.wk AS DATE) AS wk, i.y,
        ROUND(f.fit, 4) AS fit
      FROM i JOIN f ON i.l_returnflag = f.l_returnflag AND i.i = f.i
      ORDER BY 1, 2"""),
    (s, d) => isotonicFit(lineitem(s, d)
      .groupBy(col("l_returnflag"),
        date_trunc("week", col("l_shipdate")).cast("date").as("wk"))
      .agg(sum(col("l_quantity")).cast("long").as("y"))))

  /** The minimax isotonic plan over any (l_returnflag, wk, y) series
    * frame (y integer-valued) — extracted so MlOracleSpec can
    * hand-trace PAV pools on tiny sequences. */
  def isotonicFit(weekly: DataFrame): DataFrame = {
    val wI = Window.partitionBy(col("l_returnflag")).orderBy(col("wk"))
    val p = weekly
      .withColumn("y", col("y").cast("long"))
      .withColumn("i", row_number().over(wI))
      .withColumn("s", sum(col("y")).over(wI))
      .localCheckpoint(false) // feeds both sides of the interval join
    val a = p.select(col("l_returnflag"), col("i").as("j"),
      (col("s") - col("y")).as("spj"))
    val b = p.select(col("l_returnflag"), col("i").as("k"), col("s").as("sk"))
    val wSuf = Window.partitionBy(col("l_returnflag"), col("j"))
      .orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fit = a.join(b, Seq("l_returnflag")).filter(col("j") <= col("k"))
      .withColumn("mean",
        (col("sk") - col("spj")).cast("double") / (col("k") - col("j") + 1))
      .withColumn("mn", min(col("mean")).over(wSuf))
      .groupBy(col("l_returnflag"), col("k").as("i"))
      .agg(max(col("mn")).as("fit"))
    p.select(col("l_returnflag"), col("wk"), col("y"), col("i"))
      .join(fit, Seq("l_returnflag", "i"))
      .select(col("l_returnflag"), col("wk"), col("y"),
        round(col("fit"), 4).as("fit"))
      .orderBy(col("l_returnflag"), col("wk"))
  }
}
