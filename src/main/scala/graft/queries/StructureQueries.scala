package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables._

/** Corpus-structure wave: the positional-inverted-index phrase
  * intersection, source-pair set/distribution matrices, co-occurrence
  * graph triangles and the multi-criteria skyline — the operators that
  * look ACROSS documents/sources/nodes rather than within one
  * (cross-doc family precedent: q89 decontamination, q119 PageRank,
  * q123 co-purchase, q136 boilerplate; SURVEY.md §7.6).
  */
object StructureQueries {

  def queries: Seq[GraftQuery] = Seq(
    q183PhraseSearch, q184ZipfFit, q185JsDivergence,
    q186TriangleCount, q187ParetoFront, q188ClusteringCoeff,
    q191IncrementalTriangles, q193DegreeAssortativity,
    q232BfsHops, q233KCore)

  /** Degree assortativity of the co-purchase graph (Newman r: the
    * Pearson correlation of endpoint degrees over edges) plus the
    * degree-distribution summary — the one-row graph-health readout
    * (hub-and-spoke retail graphs are disassortative; r near 0 says
    * the support prune left no degree structure). Both directions of
    * every edge enter the correlation (the standard symmetric
    * treatment, and Pearson's normalization makes sample-vs-population
    * factors cancel identically in both engines). Reads the
    * write-once [[graft.sources.CopurchaseLayout]]; one shuffle for
    * degrees, one broadcast-scale join back to edges, one scalar
    * aggregate (the lint-allowlisted 1-row funnel).
    */
  val q193DegreeAssortativity = GraftQuery(
    "q193_degree_assortativity",
    "degree assortativity + degree summary of the co-purchase graph",
    Some("""WITH e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      deg AS (
        SELECT node, COUNT(*) AS deg FROM (
          SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY 1),
      both_dirs AS (
        SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e),
      dd AS (
        SELECT ds.deg AS x, dt.deg AS y
        FROM both_dirs JOIN deg ds ON ds.node = s
        JOIN deg dt ON dt.node = t)
      SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
        CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
        CAST((SELECT MAX(deg) FROM deg) AS BIGINT) AS max_deg,
        ROUND((SELECT AVG(deg) FROM deg), 4) AS mean_deg,
        ROUND((SELECT corr(x, y) FROM dd), 4) AS assortativity"""),
    (s, d) => {
      val e0 = graft.sources.CopurchaseLayout.pairCounts(s, d)
        .where(col("c") >= 2).select(col("u"), col("v"))
        .localCheckpoint(false) // feeds degrees, both_dirs, edge count
      val deg = e0.select(col("u").as("node"))
        .union(e0.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(false) // feeds summary agg + two join sides
      val bothDirs = e0.select(col("u").as("s"), col("v").as("t"))
        .union(e0.select(col("v").as("s"), col("u").as("t")))
      val dd = bothDirs
        .join(deg.toDF("s", "x"), Seq("s"))
        .join(deg.toDF("t", "y"), Seq("t"))
      val summary = deg.agg(count(lit(1)).as("n_nodes"),
        max(col("deg")).as("max_deg"),
        round(avg(col("deg")), 4).as("mean_deg"))
      val edges = e0.agg(count(lit(1)).as("n_edges"))
      val r = dd.agg(round(corr(col("x"), col("y")), 4).as("assortativity"))
      summary.crossJoin(broadcast(edges)).crossJoin(broadcast(r))
        .select(col("n_nodes"), col("n_edges"), col("max_deg"),
          col("mean_deg"), col("assortativity"))
    })

  /** Incremental triangle maintenance under corpus growth — the graph
    * family's q164: yesterday's persisted pair counts + triangle table
    * ([[graft.sources.CopurchaseLayout]] yesterday layouts, orderkey
    * %10 ≤ 7 by the wave convention) absorb today's order wave by an
    * additive count merge (union + sum — co-occurrence counts are a
    * mergeable aggregate), and ONLY the delta triangles — those with
    * ≥1 edge newly past the support threshold — are enumerated
    * ([[graft.etl.Graphs.deltaTriangles]]: every join starts from the
    * delta edge set; old-old wedges are built per delta closure edge,
    * never in full). Counts only grow, so pruned edges never vanish
    * and batch = old ∪ delta exactly — which is why the oracle is the
    * SAME full-corpus enumeration as q186: the incremental path must
    * be row-identical to the recompute it avoids. At 100 TB this is
    * nightly graph refresh without touching yesterday's wedge space.
    */
  val q191IncrementalTriangles = GraftQuery(
    "q191_incremental_triangles",
    "wave-merged triangle maintenance == batch recompute",
    Some("""WITH e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      SELECT e1.u AS part_a, e1.v AS part_b, e2.v AS part_c
      FROM e e1 JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
      ORDER BY 1, 2, 3"""),
    (s, d) => {
      val yCounts = graft.sources.CopurchaseLayout.yesterdayPairCounts(s, d)
      val yTri = graft.sources.CopurchaseLayout.yesterdayTriangles(s, d)
      val waveCounts = graft.sources.CopurchaseLayout.derivePairCounts(
        lineitem(s, d).where(pmod(col("l_orderkey"), lit(10)) >= 8))
      val merged = yCounts.union(waveCounts)
        .groupBy(col("u"), col("v")).agg(sum(col("c")).as("c"))
        .localCheckpoint(false) // feeds the pruned graph AND the delta
      val mergedE = merged.where(col("c") >= 2).select(col("u"), col("v"))
      val yesterdayE = yCounts.where(col("c") >= 2)
        .select(col("u"), col("v"))
      val delta = mergedE.join(yesterdayE, Seq("u", "v"), "left_anti")
      yTri.union(graft.etl.Graphs.deltaTriangles(mergedE, delta))
        .orderBy(col("part_a"), col("part_b"), col("part_c"))
    })

  /** Exact phrase search via positional-postings intersection — the IR
    * primitive behind quoted-query retrieval and n-gram
    * decontamination probes. The phrase is data-driven (the corpus's
    * most frequent 3-gram, ties broken lexicographically) so the query
    * survives fixture regeneration; it attaches as a broadcast 1-row
    * frame, never a driver collect. The postings table (term, doc,
    * pos) is filtered to the phrase's three terms BEFORE any join —
    * the shuffle ships only those postings lists, the IR cost model's
    * bound — and the occurrence test is the classic position-adjacency
    * equi-join (pos, pos-1, pos-2 on the doc key), which generalizes
    * to any phrase length without materializing all n-grams the way
    * the lead-window gram form (q80/q136) must. Posting lists of
    * degenerate stopword-ish terms skew the join key; AQE skew split
    * handles that, and the per-term lists are the data's own size —
    * no quadratic blowup exists in this plan.
    */
  val q183PhraseSearch = GraftQuery(
    "q183_phrase_search",
    "positional-index phrase intersection for the corpus's top 3-gram",
    Some("""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      g AS (
        SELECT doc_id, unnest(list_transform(range(len(t) - 2),
            i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS gram,
          unnest(range(len(t) - 2)) AS pos
        FROM toks WHERE len(t) >= 3),
      top1 AS (
        SELECT gram FROM g GROUP BY 1
        ORDER BY COUNT(*) DESC, gram LIMIT 1)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
        CAST(MIN(pos) AS BIGINT) AS first_pos
      FROM g JOIN top1 USING (gram)
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val words = documents(s, d).select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      val wl = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val grams = words
        .withColumn("t2", lead(col("tok"), 1).over(wl))
        .withColumn("t3", lead(col("tok"), 2).over(wl))
        .where(col("t3").isNotNull)
        .select(col("doc_id"), col("pos"),
          concat_ws(" ", col("tok"), col("t2"), col("t3")).as("gram"))
      val top = grams.groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram")).limit(1)
        .select(split(col("gram"), " ").as("ts"))
      // postings restricted to the phrase's terms, checkpointed once:
      // three match branches below reuse it (q27/q89 lesson)
      val hits = words.crossJoin(broadcast(top))
        .where(col("tok") === col("ts")(0) || col("tok") === col("ts")(1) ||
          col("tok") === col("ts")(2))
        .select(col("doc_id"), col("pos"), col("tok"),
          col("ts")(0).as("t1"), col("ts")(1).as("t2"), col("ts")(2).as("t3"))
        .localCheckpoint(false)
      val m0 = hits.where(col("tok") === col("t1"))
        .select(col("doc_id"), col("pos"))
      val m1 = hits.where(col("tok") === col("t2"))
        .select(col("doc_id"), (col("pos") - 1).as("pos"))
      val m2 = hits.where(col("tok") === col("t3"))
        .select(col("doc_id"), (col("pos") - 2).as("pos"))
      m0.join(m1, Seq("doc_id", "pos")).join(m2, Seq("doc_id", "pos"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
        .orderBy(col("doc_id"))
    })

  /** Per-source Zipf fit — OLS slope of the log-log rank-frequency
    * curve over each source's top-100 tokens, the corpus-health
    * statistic (natural text sits near slope −1; template/boilerplate
    * dumps flatten it, spam steepens it — a triage signal next to the
    * q23/q80 quality family). Ranking is a row_number window
    * PARTITIONED by source (the per-source sort, never a global
    * funnel — q34/q159 discipline), ties broken (count desc, token
    * asc) so both engines rank identically; the regression collapses
    * to one closed-form aggregate per source (Σx, Σy, Σxy, Σx²) —
    * no iteration, no driver math.
    */
  val q184ZipfFit = GraftQuery(
    "q184_zipf_fit",
    "per-source log-log Zipf slope/intercept/r2 over top-100 tokens",
    Some("""WITH w AS (
        SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents),
      tc AS (SELECT source, tok, COUNT(*) AS c FROM w GROUP BY 1, 2),
      rk AS (
        SELECT source, c, ROW_NUMBER() OVER (
          PARTITION BY source ORDER BY c DESC, tok) AS r
        FROM tc),
      xy AS (
        SELECT source, ln(r) AS x, ln(c) AS y FROM rk WHERE r <= 100),
      s AS (
        SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
          SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM xy GROUP BY 1)
      SELECT source, CAST(n AS BIGINT) AS n_toks,
        ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 4) AS slope,
        ROUND(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx / n, 4)
          AS intercept,
        ROUND(POW(sxy - sx * sy / n, 2) /
          ((sxx - sx * sx / n) * (syy - sy * sy / n)), 4) AS r2
      FROM s ORDER BY 1"""),
    (s, d) => {
      val w = documents(s, d).select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      val tc = w.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      val wr = Window.partitionBy(col("source"))
        .orderBy(col("c").desc, col("tok"))
      val xy = tc.withColumn("r", row_number().over(wr))
        .where(col("r") <= 100)
        .select(col("source"), log(col("r")).as("x"), log(col("c")).as("y"))
      val st = xy.groupBy(col("source")).agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val cxx = col("sxx") - col("sx") * col("sx") / col("n")
      val cxy = col("sxy") - col("sx") * col("sy") / col("n")
      val cyy = col("syy") - col("sy") * col("sy") / col("n")
      val slope = cxy / cxx
      st.select(col("source"), col("n").as("n_toks"),
          round(slope, 4).as("slope"),
          round(col("sy") / col("n") - slope * col("sx") / col("n"), 4)
            .as("intercept"),
          round(pow(cxy, 2) / (cxx * cyy), 4).as("r2"))
        .orderBy(col("source"))
    })

  /** Jensen–Shannon divergence between per-source unigram
    * distributions — the mixture-design statistic (how redundant are
    * two sources' token distributions; feeds temperature weighting,
    * q180). The union-of-support sum is rewritten so ONLY the
    * intersection join is needed: tokens in A\B contribute
    * ½·p·log₂2 = ½·p, so
    * JSD = ½·[Σ_{A∩B}(p·log₂(2p/(p+q)) + q·log₂(2q/(p+q)))
    *        + (1−Σ_{A∩B}p) + (1−Σ_{A∩B}q)]
    * — no full-outer per-pair support union, no zero-fill explosion;
    * the inner join on the token key is the whole shuffle, and each
    * token fans out at most |sources|² pair rows (catalog-bounded,
    * same argument as q184).
    */
  val q185JsDivergence = GraftQuery(
    "q185_js_divergence",
    "pairwise Jensen-Shannon divergence of source unigram distributions",
    Some("""WITH w AS (
        SELECT source, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents),
      tc AS (SELECT source, tok, COUNT(*) AS c FROM w GROUP BY 1, 2),
      tot AS (SELECT source, SUM(c) AS n FROM tc GROUP BY 1),
      p AS (SELECT tc.source, tok, c * 1.0 / n AS p
            FROM tc JOIN tot ON tc.source = tot.source),
      pr AS (
        SELECT a.source AS src_a, b.source AS src_b,
          SUM(a.p * log2(2 * a.p / (a.p + b.p))
            + b.p * log2(2 * b.p / (a.p + b.p))) AS s1,
          SUM(a.p) AS spa, SUM(b.p) AS spb
        FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b,
        ROUND(0.5 * (s1 + (1 - spa) + (1 - spb)), 4) AS jsd
      FROM pr ORDER BY 1, 2"""),
    (s, d) => {
      val w = documents(s, d).select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      val tc = w.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      val tot = tc.groupBy(col("source")).agg(sum(col("c")).as("n"))
      // per-source token probabilities feed both join sides
      val p = tc.join(tot, Seq("source"))
        .select(col("source"), col("tok"), (col("c") / col("n")).as("p"))
      val a = p.toDF("src_a", "tok", "pa")
      val b = p.toDF("src_b", "tok", "pb")
      val m = col("pa") + col("pb")
      a.join(b, Seq("tok")).where(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(
          sum(col("pa") * log(2.0, lit(2) * col("pa") / m) +
            col("pb") * log(2.0, lit(2) * col("pb") / m)).as("s1"),
          sum(col("pa")).as("spa"), sum(col("pb")).as("spb"))
        .select(col("src_a"), col("src_b"),
          round(lit(0.5) * (col("s1") + (lit(1) - col("spa")) +
            (lit(1) - col("spb"))), 4).as("jsd"))
        .orderBy(col("src_a"), col("src_b"))
    })

  /** Triangle enumeration on the co-purchase graph — the graph-mining
    * primitive (clustering coefficient, community seeds) over the same
    * edge derivation as q123, support-pruned at co-occurrence ≥ 2 (the
    * association-mining min-support cut that keeps the edge set
    * catalog-scale as orders grow). Edges are oriented low→high by the
    * (degree, id) total order — Schank–Wagner — so every wedge is
    * built at its LOWEST-degree endpoint: per-node wedge fan-out is
    * O(out-deg²) with out-degrees bounded ~√m under this orientation,
    * the standard defense against the hub-node wedge explosion an
    * id-ordered enumeration hits at scale. The closure check is one
    * more equi-join; output rows are the id-sorted triple, which is
    * exactly what the oracle's plain id-ordered enumeration yields.
    */
  val q186TriangleCount = GraftQuery(
    "q186_triangle_count",
    "triangles in the support-pruned co-purchase graph (degree-ordered)",
    Some("""WITH e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      SELECT e1.u AS part_a, e1.v AS part_b, e2.v AS part_c
      FROM e e1 JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
      ORDER BY 1, 2, 3"""),
    (s, d) => {
      // edge derivation reads the write-once co-purchase layout
      // (support prune pushes down to the layout scan); q123 keeps
      // measuring the live derivation; enumeration machinery shared
      // with q188/q191 in [[graft.etl.Graphs]]
      val e0 = graft.sources.CopurchaseLayout.pairCounts(s, d)
        .where(col("c") >= 2).select(col("u"), col("v"))
      graft.etl.Graphs.triangles(e0)
        .orderBy(col("part_a"), col("part_b"), col("part_c"))
    })

  /** Local clustering coefficient per node on the same support-pruned
    * co-purchase graph as q186 — the community-structure readout
    * (how clique-like is each part's neighborhood). Same
    * degree-ordered enumeration; each triangle is then charged to all
    * three corners by an explode (3 rows per triangle, never a
    * re-join), and nodes with degree ≥ 2 but no triangles survive
    * with coeff 0 via the left join from the degree table. Both graph
    * queries read the write-once [[graft.sources.CopurchaseLayout]];
    * the live derivation stays measured in q123 and equality-pinned
    * in StructureSpec.
    */
  val q188ClusteringCoeff = GraftQuery(
    "q188_clustering_coeff",
    "per-node local clustering coefficient on the co-purchase graph",
    Some("""WITH e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      deg AS (
        SELECT node, COUNT(*) AS deg FROM (
          SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY 1),
      tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1 JOIN e e2 ON e1.v = e2.u
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      tn AS (
        SELECT node, COUNT(*) AS t FROM (
          SELECT a AS node FROM tri UNION ALL
          SELECT b FROM tri UNION ALL SELECT c FROM tri)
        GROUP BY 1)
      SELECT deg.node, CAST(deg.deg AS BIGINT) AS deg,
        CAST(COALESCE(tn.t, 0) AS BIGINT) AS n_tri,
        ROUND(2.0 * COALESCE(tn.t, 0) / (deg.deg * (deg.deg - 1)), 4)
          AS coeff
      FROM deg LEFT JOIN tn USING (node)
      WHERE deg.deg >= 2 ORDER BY 1"""),
    (s, d) => {
      val e0 = graft.sources.CopurchaseLayout.pairCounts(s, d)
        .where(col("c") >= 2).select(col("u"), col("v"))
      val deg = e0.select(col("u").as("node"))
        .union(e0.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val triNodes = graft.etl.Graphs.triangles(e0)
        .select(explode(array(col("part_a"), col("part_b"), col("part_c")))
          .as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("t"))
      deg.where(col("deg") >= 2)
        .join(triNodes, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("t"), lit(0L)).as("n_tri"),
          round(lit(2.0) * coalesce(col("t"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 4).as("coeff"))
        .orderBy(col("node"))
    })

  /** Per-source Pareto front (skyline) on (n_chars, distinct tokens) —
    * the multi-criteria document-selection primitive (keep documents
    * no other dominates on length AND lexical richness; the
    * one-criterion cousins are q61/q170's keeper rules). Criteria are
    * INTEGERS so dominance never hinges on a float ulp across engines.
    * The 2-D skyline needs no pairwise dominance join: sorted by
    * n_chars within the source, a doc is dominated iff the max d_tok
    * over strictly-longer docs (value-range window, integer +1 offset)
    * reaches its d_tok, or an equal-length doc strictly beats it
    * (per-(source,len) max) — two partitioned windows, zero self-join,
    * the O(n log n) sweep instead of the O(n²) NOT-EXISTS the oracle
    * deliberately replays for independence.
    */
  val q187ParetoFront = GraftQuery(
    "q187_pareto_front",
    "per-source skyline docs on (n_chars, distinct-token count)",
    Some("""WITH t AS (
        SELECT source, doc_id, n_chars,
          len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')))
            AS d_tok
        FROM documents)
      SELECT source, doc_id, n_chars, CAST(d_tok AS BIGINT) AS d_tok
      FROM t i
      WHERE NOT EXISTS (
        SELECT 1 FROM t j WHERE j.source = i.source AND
          ((j.n_chars > i.n_chars AND j.d_tok >= i.d_tok) OR
           (j.n_chars >= i.n_chars AND j.d_tok > i.d_tok)))
      ORDER BY 1, 2"""),
    (s, d) => {
      val t = documents(s, d).select(col("source"), col("doc_id"),
          col("n_chars"),
          size(array_distinct(split(lower(trim(col("text"))), "\\s+")))
            .cast("long").as("d_tok"))
      val wGt = Window.partitionBy(col("source")).orderBy(col("n_chars"))
        .rangeBetween(1L, Window.unboundedFollowing)
      val wEq = Window.partitionBy(col("source"), col("n_chars"))
      t.withColumn("m_longer", max(col("d_tok")).over(wGt))
        .withColumn("m_equal", max(col("d_tok")).over(wEq))
        .where((col("m_longer").isNull || col("m_longer") < col("d_tok")) &&
          col("m_equal") === col("d_tok"))
        .select(col("source"), col("doc_id"), col("n_chars"), col("d_tok"))
        .orderBy(col("source"), col("doc_id"))
    })

  /** BFS hop distance from the hub of the co-purchase graph (the
    * max-degree node, min-id tiebreak) — the reachability/diameter
    * probe the component family (q164) can't give: components say
    * WHETHER parts co-sell, hops say HOW FAR apart the selling
    * neighborhoods sit. Pregel-style frontier iteration: each round is
    * one frontier⋈edges shuffle plus an anti-join against the visited
    * set — the loop count is the graph DIAMETER (9 at sf0.01, 6 at
    * sf0.1 — probed), never the node count, and every round's work is
    * proportional to the frontier, so the plan is the textbook
    * distributed BFS at any scale. The 12-hop cap is the oracle-replay
    * convention (DuckDB's recursive CTE needs a recursion bound on a
    * cyclic graph); the helper asserts the frontier drains inside it.
    */
  val q232BfsHops = GraftQuery(
    "q232_bfs_hops",
    "BFS hop distance from the max-degree hub of the co-purchase graph",
    Some("""WITH RECURSIVE e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      deg AS (
        SELECT node, COUNT(*) AS deg FROM (
          SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY 1),
      s AS (SELECT node FROM deg ORDER BY deg DESC, node LIMIT 1),
      ud AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      bfs AS (
        SELECT node, 0 AS h FROM s
        UNION
        SELECT ud.v, bfs.h + 1
        FROM bfs JOIN ud ON ud.u = bfs.node WHERE bfs.h < 12)
      SELECT node, CAST(MIN(h) AS INTEGER) AS hops
      FROM bfs GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val e0 = graft.sources.CopurchaseLayout.pairCounts(s, d)
        .where(col("c") >= 2).select(col("u"), col("v"))
        .localCheckpoint(false)
      bfsHops(e0, maxHops = 12).orderBy(col("node"))
    })

  /** Distributed BFS over an undirected (u, v) edge frame from the
    * max-(degree, min-id) node. Returns (node, hops) for the reachable
    * set; throws if the frontier hasn't drained inside `maxHops` (the
    * oracle's recursion bound — raising it is a two-sided change). */
  def bfsHops(e0: org.apache.spark.sql.DataFrame, maxHops: Int)
      : org.apache.spark.sql.DataFrame = {
    val ud = e0.union(e0.select(col("v"), col("u"))).toDF("u", "v")
      .localCheckpoint(false)
    val src = ud.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("node")).limit(1)
      .select(col("node")).collect().head.get(0)
    var visited = ud.sparkSession.range(1)
      .select(lit(src).as("node"), lit(0).as("h")).localCheckpoint(false)
    var frontier = visited
    var h = 0
    var drained = false
    // ONE action per hop (round-12 job-count inventory: the old
    // two-isEmpty loop billed 48 jobs to a 6-hop BFS): the loop's one
    // isEmpty both terminates it AND guards the union, so a drained
    // frontier is never appended and no second probe is needed.
    while (h < maxHops && !drained) {
      h += 1
      frontier = frontier
        .join(ud, frontier("node") === ud("u"))
        .select(ud("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .withColumn("h", lit(h))
        .localCheckpoint(false)
      drained = frontier.isEmpty
      if (!drained)
        visited = visited.union(frontier).localCheckpoint(false)
    }
    require(drained,
      s"BFS frontier not drained after $maxHops hops — raise the bound " +
        "in BOTH the helper call and the recursive oracle")
    visited.select(col("node"), col("h").cast("int").as("hops"))
  }

  /** 3-core of the co-purchase graph — iterative peeling (drop nodes
    * with in-subgraph degree < 3 until fixpoint) down to the maximal
    * subgraph where every part co-sells with ≥3 surviving parts: the
    * dense kernel that survives after q186's triangle corona is
    * stripped. Each peel round is one degree aggregate + two
    * semi-joins over the SHRINKING edge set; peeling is monotone and
    * idempotent at fixpoint, so the engine's early-stop (no edge
    * removed) and the oracle's fixed 12 chained rounds — generated,
    * not hand-copied — compute identical sets (probed fixpoint: 9
    * rounds at sf0.01; empty core in 3 at sf0.1, which the oracle
    * reproduces as an empty result). The round cap is asserted like
    * q232's hop bound.
    */
  val q233KCore = GraftQuery(
    "q233_k_core",
    "3-core of the co-purchase graph (iterative peel to fixpoint)",
    Some {
      // MATERIALIZED is load-bearing: each round references the
      // previous CTE four times, so un-materialized inlining expands
      // the 12-round chain into a 4^12-leaf scan tree (probed: DuckDB
      // dies on open file handles)
      val base = """WITH e0 AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)"""
      val rounds = (1 to 12).map { i =>
        s"""k$i AS MATERIALIZED (
        SELECT node FROM (
          SELECT node, COUNT(*) AS deg FROM (
            SELECT u AS node FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
          GROUP BY 1) WHERE deg >= 3),
      e$i AS MATERIALIZED (
        SELECT e${i - 1}.u, e${i - 1}.v FROM e${i - 1}
        JOIN k$i a ON a.node = e${i - 1}.u
        JOIN k$i b ON b.node = e${i - 1}.v)"""
      }.mkString(",\n      ")
      s"""$base,
      $rounds
      SELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
        SELECT u AS node FROM e12 UNION ALL SELECT v FROM e12)
      GROUP BY 1 ORDER BY 1"""
    },
    (s, d) => {
      val e0 = graft.sources.CopurchaseLayout.pairCounts(s, d)
        .where(col("c") >= 2).select(col("u"), col("v"))
        .localCheckpoint(false)
      kCore(e0, k = 3, maxRounds = 12)
        .toDF("node", "core_deg").orderBy(col("node"))
    })

  /** Iterative k-core peel over an undirected (u, v) edge frame.
    * Returns (node, in-core degree); throws if fixpoint isn't reached
    * inside `maxRounds` (the oracle's chained-round count — raising it
    * is a two-sided change). */
  def kCore(e0: org.apache.spark.sql.DataFrame, k: Int, maxRounds: Int)
      : org.apache.spark.sql.DataFrame = {
    var cur = e0.localCheckpoint(false)
    var n = cur.count()
    var rounds = 0
    var done = n == 0L
    while (!done && rounds < maxRounds) {
      rounds += 1
      val keep = cur.select(col("u").as("node"))
        .union(cur.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("node"))
      val nxt = cur
        .join(keep.toDF("u"), Seq("u"), "left_semi")
        .join(keep.toDF("v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(false)
      val m = nxt.count()
      done = m == n
      cur = nxt
      n = m
    }
    require(done,
      s"$k-core peel not converged after $maxRounds rounds — raise the " +
        "bound in BOTH the helper call and the generated oracle rounds")
    cur.select(col("u").as("node"))
      .union(cur.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
  }
}
