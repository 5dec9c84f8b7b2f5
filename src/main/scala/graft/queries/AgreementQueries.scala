package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.Tables._
import graft.text.{TextAnalysis => TA}

/** Inter-annotator agreement over the label-quality family — chance-
  * corrected agreement between three deterministic quality raters
  * (token-count, stopword-ratio, and character-length terciles, each a
  * real curation signal from q23's metric set). Labeling pipelines
  * gate on these statistics before trusting a rater pool; the
  * reference never measures agreement anywhere (its labels arrive
  * unquestioned, book.md:8-21) — an engine curating training data
  * must. Three classics, one shared rater table:
  * Cohen's κ (pairwise), Fleiss' κ (pool-level, per source), and
  * Krippendorff's nominal α (coincidence-matrix form).
  *
  * Scale design: everything reduces over the (doc, rater, category)
  * table — 3 rows per document, one equi-join on doc_id for the
  * pairwise/coincidence forms (≤9 output rows per doc), then
  * |raters|²·|cats|²-bounded arithmetic on broadcast marginal tables.
  * No windows, no non-equi joins; the corpus crosses two shuffles
  * (rater table group-bys). Category cut points are fixed engine
  * constants (not corpus quantiles), so the rater is a pure per-row
  * map at any scale; the threshold values sit strictly between the
  * representable ratio values the corpus can produce (denominators
  * ≤ max token count), so no row can land on a cut in either engine.
  */
object AgreementQueries {

  def queries: Seq[GraftQuery] =
    Seq(q251CohensKappa, q252FleissKappa, q253Krippendorff)

  private val stopList = TA.Stopwords.map(w => s"'$w'").mkString(", ")

  /** The three raters as a long (doc_id, source, rater, cat) table;
    * cat ∈ {0,1,2}. Cut points: tokens 40/70, stopword ratio
    * 0.046/0.0715, chars 200/380. */
  private[queries] def raters(docs: DataFrame): DataFrame = {
    def tercile(v: Column, lo: Column, hi: Column): Column =
      when(v < lo, 0).when(v < hi, 1).otherwise(2)
    docs.select(col("doc_id"), col("source"),
      tercile(TA.tokenCount(col("text")), lit(40), lit(70)).as("cat_tok"),
      tercile(TA.stopwordRatio(col("text")), lit(0.046), lit(0.0715))
        .as("cat_stop"),
      tercile(col("n_chars"), lit(200), lit(380)).as("cat_len"))
      .select(col("doc_id"), col("source"), expr(
        """stack(3, 'len', cat_len, 'stop', cat_stop, 'tok', cat_tok)
           AS (rater, cat)"""))
  }

  /** The same rater table as oracle SQL (CTE named `rt`). */
  private val ratersSql = s"""rt AS (
        SELECT doc_id, source, r.rater, r.cat
        FROM (
          SELECT doc_id, source,
            CASE WHEN ntok < 40 THEN 0
              WHEN ntok < 70 THEN 1 ELSE 2 END AS cat_tok,
            CASE WHEN nstop * 1.0 / ntok < 0.046 THEN 0
              WHEN nstop * 1.0 / ntok < 0.0715 THEN 1 ELSE 2 END AS cat_stop,
            CASE WHEN n_chars < 200 THEN 0
              WHEN n_chars < 380 THEN 1 ELSE 2 END AS cat_len
          FROM (
            SELECT doc_id, source, n_chars,
              len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS ntok,
              len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                t -> t IN ($stopList))) AS nstop
            FROM documents)),
          LATERAL (VALUES ('len', cat_len), ('stop', cat_stop),
            ('tok', cat_tok)) AS r(rater, cat))"""

  /** Pairwise Cohen's κ for the three rater pairs: observed agreement
    * po over the doc-equi-joined pair table, chance agreement
    * pe = Σ_c pA(c)·pB(c) from the broadcast marginal table,
    * κ = (po − pe)/(1 − pe). */
  val q251CohensKappa = GraftQuery(
    "q251_cohens_kappa",
    "pairwise Cohen's kappa between the three tercile quality raters",
    Some(s"""WITH $ratersSql,
      n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM rt),
      pairs AS (
        SELECT a.rater AS ra, b.rater AS rb,
          AVG(CASE WHEN a.cat = b.cat THEN 1.0 ELSE 0.0 END) AS po
        FROM rt a JOIN rt b ON a.doc_id = b.doc_id AND a.rater < b.rater
        GROUP BY 1, 2),
      marg AS (
        SELECT rater, cat, COUNT(*) AS cnt
        FROM rt GROUP BY 1, 2),
      pe AS (
        SELECT ma.rater AS ra, mb.rater AS rb,
          CAST(SUM(CAST(ma.cnt AS HUGEINT) * mb.cnt) AS DOUBLE)
            / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)) AS pe
        FROM marg ma JOIN marg mb
          ON ma.cat = mb.cat AND ma.rater < mb.rater, n
        GROUP BY 1, 2, nd)
      SELECT pairs.ra || '-' || pairs.rb AS pair,
        CAST(ROUND(CAST(CAST(po AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS po,
        CAST(ROUND(CAST(CAST(pe.pe AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS pe,
        CAST(ROUND(CAST(CAST((po - pe.pe) / (1 - pe.pe) AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS kappa
      FROM pairs JOIN pe ON pairs.ra = pe.ra AND pairs.rb = pe.rb
      ORDER BY 1"""),
    (s, d) => cohensKappa(raters(documents(s, d))))

  /** The q251 pipeline over any (doc_id, rater, cat) frame —
    * AgreementSpec hand-traces a 2-rater confusion table and pins the
    * perfect-agreement (κ=1) and independent-raters (κ≈0) limits.
    *
    * pe accumulates in EXACT integers with one final division
    * (Σ cntA·cntB / nd², not Σ (cntA/nd)(cntB/nd)): a sum of inexact
    * double products associates per partial-aggregation order on
    * Spark and per scan order on DuckDB — the q246 trailing-ulp
    * class — while the integer sum is order-independent at any
    * width. Decimal(38,0)/HUGEINT accumulation keeps it exact past
    * the ~3e9 counts where long products wrap (internal only; the
    * emission casts to double — the no-decimal-output rule). */
  def cohensKappa(rt: DataFrame): DataFrame = {
    val r = rt.localCheckpoint(false) // feeds pairs AND marginals
    val nd = r.select(countDistinct(col("doc_id")).as("nd"))
    val pairs = r.as("a").join(r.as("b"),
      col("a.doc_id") === col("b.doc_id") && col("a.rater") < col("b.rater"))
      .groupBy(col("a.rater").as("ra"), col("b.rater").as("rb"))
      .agg(avg(when(col("a.cat") === col("b.cat"), 1.0).otherwise(0.0))
        .as("po")) // exact: partial sums of 0/1 doubles are integers
    val marg = r.groupBy(col("rater"), col("cat"))
      .agg(count(lit(1)).as("cnt"))
    val pe = marg.as("ma").join(marg.as("mb"),
      col("ma.cat") === col("mb.cat") && col("ma.rater") < col("mb.rater"))
      .groupBy(col("ma.rater").as("ra"), col("mb.rater").as("rb"))
      .agg(sum(col("ma.cnt").cast(DecimalType(38, 0)) * col("mb.cnt"))
        .as("pe2"))
      .crossJoin(broadcast(nd))
      .select(col("ra"), col("rb"),
        (col("pe2").cast("double")
          / (col("nd").cast("double") * col("nd").cast("double")))
          .as("pe"))
    pairs.join(pe, Seq("ra", "rb"))
      .select(concat(col("ra"), lit("-"), col("rb")).as("pair"),
        round(col("po"), 4).as("po"), round(col("pe"), 4).as("pe"),
        round((col("po") - col("pe")) / (lit(1) - col("pe")), 4)
          .as("kappa"))
      .orderBy(col("pair"))
  }

  /** Fleiss' κ per source over the 3-rater pool: per-doc agreement
    * P_i = (Σ_c n_ic² − m)/(m(m−1)) with m = 3 raters, pooled
    * P̄ vs chance P̄e = Σ_c p_c². */
  val q252FleissKappa = GraftQuery(
    "q252_fleiss_kappa",
    "Fleiss' kappa of the three-rater quality pool, per source",
    Some(s"""WITH $ratersSql,
      cellc AS (
        SELECT source, doc_id, cat, COUNT(*) AS nic
        FROM rt GROUP BY 1, 2, 3),
      perdoc AS (
        SELECT source, doc_id,
          SUM(nic * nic) - 3 AS num_i
        FROM cellc GROUP BY 1, 2),
      pbar AS (
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(num_i) AS DOUBLE)
            / (6.0 * CAST(COUNT(*) AS DOUBLE)) AS p_bar
        FROM perdoc GROUP BY 1),
      pc AS (
        SELECT source, cat, SUM(nic) AS n_c FROM cellc GROUP BY 1, 2),
      pec AS (
        SELECT pc.source,
          CAST(SUM(CAST(n_c AS HUGEINT) * n_c) AS DOUBLE)
            / (9.0 * CAST(pbar.n_docs AS DOUBLE)
              * CAST(pbar.n_docs AS DOUBLE)) AS p_e
        FROM pc JOIN pbar ON pc.source = pbar.source
        GROUP BY 1, pbar.n_docs)
      SELECT pbar.source, CAST(pbar.n_docs AS BIGINT) AS n_docs,
        CAST(ROUND(CAST(CAST(p_bar AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS p_bar,
        CAST(ROUND(CAST(CAST(p_e AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS p_e,
        CAST(ROUND(CAST(CAST((p_bar - p_e) / (1 - p_e) AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS kappa
      FROM pbar JOIN pec ON pbar.source = pec.source ORDER BY 1"""),
    (s, d) => fleissKappa(raters(documents(s, d))))

  /** The q252 pipeline — AgreementSpec pins unanimity (κ=1) and a
    * hand-traced mixed pool.
    *
    * P̄ and P̄e accumulate in EXACT integers with one final division
    * (Σ(Σnic²−3) / 6n and Σn_c² / 9n² — the q251 discipline): the
    * textbook AVG-of-P_i form sums inexact thirds across every doc in
    * the source, whose association order is width-dependent on Spark
    * and scan-dependent on DuckDB. Integer numerators are
    * order-independent at any width; n_c² accumulates in
    * Decimal(38,0)/HUGEINT internally (n_c can pass 3e9 at corpus
    * scale), emission cast to double. */
  def fleissKappa(rt: DataFrame): DataFrame = {
    val cellc = rt.groupBy(col("source"), col("doc_id"), col("cat"))
      .agg(count(lit(1)).as("nic"))
    val pbar = cellc.groupBy(col("source"), col("doc_id"))
      .agg((sum(col("nic") * col("nic")) - 3).as("num_i"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("num_i")).as("pnum"))
      .select(col("source"), col("n_docs"),
        (col("pnum").cast("double")
          / (lit(6.0) * col("n_docs").cast("double"))).as("p_bar"))
    val pec = cellc.groupBy(col("source"), col("cat"))
      .agg(sum(col("nic")).as("n_c"))
      .join(broadcast(pbar.select(col("source"), col("n_docs"))),
        Seq("source"))
      .groupBy(col("source"), col("n_docs"))
      .agg(sum(col("n_c").cast(DecimalType(38, 0)) * col("n_c"))
        .as("pe2"))
      .select(col("source"),
        (col("pe2").cast("double")
          / (lit(9.0) * col("n_docs").cast("double")
            * col("n_docs").cast("double"))).as("p_e"))
    pbar.join(pec, Seq("source"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        round(col("p_bar"), 4).as("p_bar"), round(col("p_e"), 4).as("p_e"),
        round((col("p_bar") - col("p_e")) / (lit(1) - col("p_e")), 4)
          .as("kappa"))
      .orderBy(col("source"))
  }

  /** Krippendorff's nominal α over the whole corpus: coincidence
    * matrix o_ck = Σ_u n_uc·(n_uk − δ_ck)/(m−1), disagreement
    * Do = Σ_{c≠k} o_ck / n vs expected De = Σ_{c≠k} n_c·n_k/(n(n−1)),
    * α = 1 − Do/De. One row — the corpus-level go/no-go number a
    * labeling run gates on. */
  val q253Krippendorff = GraftQuery(
    "q253_krippendorff",
    "Krippendorff's nominal alpha of the three-rater pool (coincidence form)",
    Some(s"""WITH $ratersSql,
      cellc AS (SELECT doc_id, cat, COUNT(*) AS nic
        FROM rt GROUP BY 1, 2),
      o AS (
        SELECT a.cat AS c, b.cat AS k,
          SUM(a.nic * (b.nic - CASE WHEN a.cat = b.cat THEN 1 ELSE 0 END))
            AS ock2
        FROM cellc a JOIN cellc b ON a.doc_id = b.doc_id
        GROUP BY 1, 2),
      nc AS (SELECT c, SUM(ock2) AS nc2 FROM o GROUP BY 1),
      tot AS (SELECT SUM(nc2) AS n2 FROM nc),
      dd AS (SELECT SUM(CASE WHEN c != k THEN ock2 ELSE 0 END) AS dsum2
        FROM o),
      de AS (
        SELECT SUM(CAST(a.nc2 AS HUGEINT) * b.nc2) AS esum2
        FROM nc a JOIN nc b ON a.c != b.c)
      SELECT CAST((SELECT COUNT(DISTINCT doc_id) FROM rt) AS BIGINT)
          AS n_units,
        CAST(ROUND(CAST(CAST(
          CAST(dsum2 AS DOUBLE) / CAST(n2 AS DOUBLE)
          AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS d_o,
        CAST(ROUND(CAST(CAST(
          CAST(esum2 AS DOUBLE)
            / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 2))
          AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS d_e,
        CAST(ROUND(CAST(CAST(
          1 - (CAST(dsum2 AS DOUBLE) / CAST(n2 AS DOUBLE))
            / (CAST(esum2 AS DOUBLE)
              / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 2)))
          AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS alpha
      FROM dd, de, tot"""),
    (s, d) => krippendorff(raters(documents(s, d))))

  /** The q253 pipeline — AgreementSpec pins α=1 under unanimity and
    * the textbook worked example.
    *
    * The coincidence matrix is kept DOUBLED (ock2 = Σ nic·(nic−δ),
    * dropping the textbook /(m−1) = /2) so every accumulation is an
    * exact integer — order-independent at any width, where the
    * half-valued form stops being exact once counts pass ~2^52 and
    * the q246 association-order class reopens. The halves cancel in
    * the emissions: d_o = dsum2/n2, d_e = esum2/(n2(n2−2)) (since
    * n(n−1) = n2(n2−2)/4 and esum = esum2/4). esum2 accumulates in
    * Decimal(38,0)/HUGEINT (products of category totals), emission
    * cast to double. */
  def krippendorff(rt: DataFrame): DataFrame = {
    val cellc = rt.groupBy(col("doc_id"), col("cat"))
      .agg(count(lit(1)).as("nic"))
    val o = cellc.as("a").join(cellc.as("b"),
      col("a.doc_id") === col("b.doc_id"))
      .groupBy(col("a.cat").as("c"), col("b.cat").as("k"))
      .agg(sum(col("a.nic")
        * (col("b.nic") - when(col("a.cat") === col("b.cat"), 1)
          .otherwise(0))).as("ock2"))
      .localCheckpoint(false) // feeds nc, the diagonal sum, and n
    val nc = o.groupBy(col("c")).agg(sum(col("ock2")).as("nc2"))
    val n = nc.select(sum(col("nc2")).as("n2"))
    val dsum = o.select(
      sum(when(col("c") =!= col("k"), col("ock2")).otherwise(0L))
        .as("dsum2"))
    val esum = nc.as("a")
      .join(broadcast(nc.as("b")), col("a.c") =!= col("b.c"))
      .select(sum(col("a.nc2").cast(DecimalType(38, 0)) * col("b.nc2"))
        .as("esum2"))
    val units = rt.select(countDistinct(col("doc_id")).as("n_units"))
    val dO = col("dsum2").cast("double") / col("n2").cast("double")
    val dE = col("esum2").cast("double") /
      (col("n2").cast("double") * (col("n2").cast("double") - 2))
    units.crossJoin(broadcast(dsum)).crossJoin(broadcast(esum))
      .crossJoin(broadcast(n))
      .select(col("n_units").cast("long").as("n_units"),
        round(dO, 4).as("d_o"),
        round(dE, 4).as("d_e"),
        round(lit(1) - dO / dE, 4).as("alpha"))
  }
}
