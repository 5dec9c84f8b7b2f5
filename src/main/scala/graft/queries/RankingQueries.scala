package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables._
import graft.text.Similarity

/** Ranking-quality metrics over the embedding retrieval family — the
  * evaluation half that q30/q83/q141/q143 (the retrieval systems) have
  * no judge for: nDCG@10, MRR@10 / precision / recall, and rank-biased
  * overlap between two rankers. The reference evaluates its
  * recommender by eyeballing top-N lists (book.md:87-99, the final
  * `take(10)` inspection); a pipeline that ships retrieval needs the
  * metrics as queries, not as a human look.
  *
  * Shared design: the judged system is the exact brute-force cosine
  * ranker (the family's oracle-checkable ground truth); every metric
  * is computed from its top-10 table + a per-label count table — after
  * the candidate generation (quadratic by intent, registered with its
  * IVF twin in QueriesSpec) nothing grows past |queries|×10 rows. At
  * 100 TB the candidate source swaps to the IVF cell join exactly as
  * q141→q143 did; the metric arithmetic downstream is unchanged.
  *
  * Float discipline: every transcendental fold (idcg, RBO weights) is
  * a LEFT-TO-RIGHT lambda fold over an explicit integer sequence in
  * BOTH engines (Spark `aggregate`, DuckDB `list_reduce`) so the two
  * sides add identical doubles in identical order; group SUMs are ≤10
  * doubles reordered at worst ~1e-15, absorbed by the 4dp round.
  */
object RankingQueries {

  def queries: Seq[GraftQuery] = Seq(q248Ndcg, q249RetrievalMetrics, q250Rbo)

  /** (q_id, q_label, vec_id, label, rk): exact-cosine top-`k`
    * candidates per query vector with corpus labels carried through.
    * Same plan shape as [[Similarity.cosineTopK]] (broadcast query
    * side, one corpus stream, per-query bounded window). */
  private[queries] def rankedTopK(
      emb: DataFrame, isQuery: Column, k: Int): DataFrame = {
    val e = emb.select(col("vec_id"),
      Similarity.toDouble(col("embedding")).as("v"), col("label"))
    val q = e.filter(isQuery).select(col("vec_id").as("q_id"),
      col("v").as("qv"), col("label").as("q_label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    // stream-side spread: the quadratic cosine leg runs at the corpus
    // stream's parallelism (1-partition fixture scan otherwise)
    broadcast(q).join(graft.model.Tables.spread(e, col("vec_id")),
        col("q_id") =!= col("vec_id"))
      .withColumn("cos", Similarity.cosine(col("qv"), col("v")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        col("rk"))
  }

  /** Per-label corpus counts, for R (relevant-total) denominators. */
  private def labelCounts(emb: DataFrame): DataFrame =
    emb.groupBy(col("label")).agg(count(lit(1)).as("c"))

  /** nDCG@10 with binary same-label relevance, one row per query
    * vector: hits in the top 10, DCG = Σ rel_i/log2(i+1), IDCG for
    * R = |same-label corpus| − 1 relevant candidates (the query itself
    * excluded — it is its own class member but never its own
    * candidate), nDCG = DCG/IDCG. The IDCG fold runs left-to-right
    * over sequence(1, min(R,10)) in both engines.
    */
  val q248Ndcg = GraftQuery(
    "q248_ndcg",
    "nDCG@10 of exact cosine retrieval, binary same-label relevance, per query vector",
    Some("""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label
            FROM e WHERE vec_id < 32),
      s AS (SELECT q_id, q_label, e.vec_id, e.label,
              list_cosine_similarity(qv, v) AS cos
            FROM q, e WHERE e.vec_id != q_id),
      r AS (SELECT q_id, q_label, label,
              ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY cos DESC, vec_id) AS rk
            FROM s),
      lc AS (SELECT label, COUNT(*) AS c FROM e GROUP BY 1),
      d AS (SELECT q_id, q_label,
              SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS hits,
              SUM(CASE WHEN label = q_label
                THEN 1.0 / log2(rk + 1) ELSE 0.0 END) AS dcg
            FROM r WHERE rk <= 10 GROUP BY 1, 2),
      i AS (SELECT d.*,
              list_reduce(list_prepend(0.0,
                list_transform(range(1, LEAST(lc.c - 1, 10) + 1),
                  i -> 1.0 / log2(i + 1))), (a, b) -> a + b) AS idcg
            FROM d JOIN lc ON lc.label = d.q_label)
      SELECT q_id, CAST(q_label AS INTEGER) AS q_label,
        CAST(hits AS BIGINT) AS hits, ROUND(dcg, 4) AS dcg,
        ROUND(idcg, 4) AS idcg,
        ROUND(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END, 4) AS ndcg
      FROM i ORDER BY q_id"""),
    (s, d) => ndcg(embeddings(s, d), col("vec_id") < 32))

  /** The q248 pipeline over any (vec_id, embedding, label) frame —
    * RankingSpec hand-traces a forced 2-dim ordering and pins the
    * perfect-ranking limit (ndcg = 1). */
  def ndcg(emb: DataFrame, isQuery: Column): DataFrame = {
    val t = rankedTopK(emb, isQuery, 10)
    val d = t.groupBy(col("q_id"), col("q_label"))
      .agg(sum(when(col("label") === col("q_label"), 1).otherwise(0))
        .as("hits"),
        sum(when(col("label") === col("q_label"),
          lit(1.0) / log2(col("rk") + 1)).otherwise(0.0)).as("dcg"))
    d.join(broadcast(labelCounts(emb)), col("label") === col("q_label"))
      .withColumn("idcg", expr(
        """aggregate(sequence(1, int(least(c - 1, 10))),
           cast(0.0 as double),
           (acc, i) -> acc + 1.0 / log2(cast(i as double) + 1.0))"""))
      .select(col("q_id"), col("q_label").cast("int").as("q_label"),
        col("hits").cast("long").as("hits"), round(col("dcg"), 4).as("dcg"),
        round(col("idcg"), 4).as("idcg"),
        round(when(col("idcg") > 0, col("dcg") / col("idcg"))
          .otherwise(0.0), 4).as("ndcg"))
      .orderBy(col("q_id"))
  }

  /** MRR@10, precision@10, recall@10 aggregated per query label: MRR
    * is 1/first-relevant-rank (0 when the top 10 has no relevant),
    * precision is hits/10, recall is hits/R. Averages run over the
    * per-query table (≤|queries| rows), never candidates. */
  val q249RetrievalMetrics = GraftQuery(
    "q249_retrieval_metrics",
    "MRR@10 / precision@10 / recall@10 of exact cosine retrieval per query label",
    Some("""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label
            FROM e WHERE vec_id < 32),
      s AS (SELECT q_id, q_label, e.vec_id, e.label,
              list_cosine_similarity(qv, v) AS cos
            FROM q, e WHERE e.vec_id != q_id),
      r AS (SELECT q_id, q_label, label,
              ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY cos DESC, vec_id) AS rk
            FROM s),
      lc AS (SELECT label, COUNT(*) AS c FROM e GROUP BY 1),
      pq AS (SELECT q_id, q_label,
               SUM(CASE WHEN label = q_label THEN 1 ELSE 0 END) AS hits,
               MIN(CASE WHEN label = q_label THEN rk END) AS first_rel
             FROM r WHERE rk <= 10 GROUP BY 1, 2)
      SELECT CAST(q_label AS INTEGER) AS q_label,
        COUNT(*) AS n_q,
        ROUND(AVG(COALESCE(1.0 / first_rel, 0.0)), 4) AS mrr,
        ROUND(AVG(hits / 10.0), 4) AS p_at_10,
        ROUND(AVG(hits / (lc.c - 1.0)), 4) AS recall_at_10
      FROM pq JOIN lc ON lc.label = pq.q_label
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => retrievalMetrics(embeddings(s, d), col("vec_id") < 32))

  /** The q249 pipeline — RankingSpec pins MRR = 1/2 when the first
    * relevant candidate sits at rank 2. */
  def retrievalMetrics(emb: DataFrame, isQuery: Column): DataFrame = {
    val t = rankedTopK(emb, isQuery, 10)
    val pq = t.groupBy(col("q_id"), col("q_label"))
      .agg(sum(when(col("label") === col("q_label"), 1).otherwise(0))
        .as("hits"),
        min(when(col("label") === col("q_label"), col("rk")))
          .as("first_rel"))
    pq.join(broadcast(labelCounts(emb)), col("label") === col("q_label"))
      .groupBy(col("q_label").cast("int").as("q_label"))
      .agg(count(lit(1)).as("n_q"),
        round(avg(coalesce(lit(1.0) / col("first_rel"), lit(0.0))), 4)
          .as("mrr"),
        round(avg(col("hits") / 10.0), 4).as("p_at_10"),
        round(avg(col("hits") / (col("c") - 1.0)), 4).as("recall_at_10"))
      .orderBy(col("q_label"))
  }

  /** Rank-biased overlap (Webber et al. 2010, truncated at depth 10,
    * p = 0.9) between the full-dimension cosine ranking and the
    * 16-dim-prefix (Matryoshka, the q200 pair) ranking, per query.
    * A candidate at ranks (ra, rb) joins the prefix intersection at
    * every depth i ≥ m = max(ra, rb), so its total contribution is
    * the closed per-m weight w(m) = (1−p)·Σ_{i=m..10} p^{i−1}/i —
    * RBO collapses to one bounded join (top-10 ⋈ top-10 per query)
    * plus a 10-value fold; no per-depth pass. `rbo_norm` divides by
    * the identical-prefix ceiling (1 − p^10) so 1 means "same
    * top-10 in the same order". */
  val q250Rbo = GraftQuery(
    "q250_rbo",
    "rank-biased overlap (p=0.9, depth 10) of full-dim vs 16-dim-prefix cosine rankings",
    Some("""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 32),
      sf AS (SELECT q_id, e.vec_id, list_cosine_similarity(qv, v) AS cos
             FROM q, e WHERE e.vec_id != q_id),
      st AS (SELECT q_id, e.vec_id,
               list_cosine_similarity(qv[1:16], v[1:16]) AS cos
             FROM q, e WHERE e.vec_id != q_id),
      rf AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY cos DESC, vec_id) AS ra FROM sf),
      rt AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY cos DESC, vec_id) AS rb FROM st),
      j AS (SELECT rf.q_id, GREATEST(ra, rb) AS m
            FROM rf JOIN rt ON rf.q_id = rt.q_id AND rf.vec_id = rt.vec_id
            WHERE ra <= 10 AND rb <= 10),
      w AS (SELECT q_id, COUNT(*) AS overlap10,
              SUM(0.1 * list_reduce(list_prepend(0.0,
                list_transform(range(m, 11),
                  i -> pow(0.9, i - 1) / i)), (a, b) -> a + b)) AS rbo
            FROM j GROUP BY 1)
      SELECT q.q_id, COALESCE(CAST(overlap10 AS BIGINT), 0) AS overlap10,
        ROUND(COALESCE(rbo, 0.0), 4) AS rbo,
        ROUND(COALESCE(rbo, 0.0) / (1 - pow(0.9, 10)), 4) AS rbo_norm
      FROM q LEFT JOIN w ON q.q_id = w.q_id ORDER BY q.q_id"""),
    (s, d) => rbo(embeddings(s, d), col("vec_id") < 32, 16))

  /** The q250 pipeline — RankingSpec pins identical rankings →
    * rbo_norm = 1 and engineered disjoint top-10s → 0. */
  def rbo(emb: DataFrame, isQuery: Column, prefix: Int): DataFrame = {
    val e = emb.select(col("vec_id"),
      Similarity.toDouble(col("embedding")).as("v"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    // stream-side spread, same rationale as [[rankedTopK]]
    val es = graft.model.Tables.spread(e, col("vec_id"))
    def ranked(qc: Column, vc: Column, rkName: String): DataFrame = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      broadcast(q).join(es, col("q_id") =!= col("vec_id"))
        .withColumn("cos", Similarity.cosine(qc, vc))
        .withColumn(rkName, row_number().over(w))
        .filter(col(rkName) <= 10)
        .select(col("q_id"), col("vec_id"), col(rkName))
    }
    val rf = ranked(col("qv"), col("v"), "ra")
    val rt = ranked(slice(col("qv"), 1, prefix),
      slice(col("v"), 1, prefix), "rb")
    val agg = rf.join(rt, Seq("q_id", "vec_id"))
      .withColumn("m", greatest(col("ra"), col("rb")))
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("overlap10"),
        sum(expr(
          """0.1 * aggregate(sequence(int(m), 10), cast(0.0 as double),
             (acc, i) -> acc + pow(0.9, cast(i as double) - 1.0)
               / cast(i as double))""")).as("rbo"))
    q.select(col("q_id")).join(agg, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("overlap10"), lit(0L)).cast("long").as("overlap10"),
        round(coalesce(col("rbo"), lit(0.0)), 4).as("rbo"),
        round(coalesce(col("rbo"), lit(0.0)) / (1 - math.pow(0.9, 10)), 4)
          .as("rbo_norm"))
      .orderBy(col("q_id"))
  }
}
