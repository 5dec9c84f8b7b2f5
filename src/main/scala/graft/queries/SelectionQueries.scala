package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.GlobalRank
import graft.model.Tables._
import graft.text.{Chunker, Similarity}

/** Data-selection + retrieval-composition wave: the operators that
  * turn a cleaned corpus into training input — chunking for context
  * windows, vocabulary coverage, hybrid retrieval fusion (Cormack et
  * al. 2009 RRF), importance-weighted selection against a target
  * distribution (DSIR, Xie et al. 2023 — here with the q162 bigram-LM
  * machinery as both models), and exact stratified splits on the
  * distributed per-key rank. All DuckDB value-exact.
  */
object SelectionQueries {

  def queries: Seq[GraftQuery] = Seq(
    q172RagChunks, q173VocabOov, q174RrfFusion, q175DsirSelect,
    q176StratifiedSplit, q178RougeOverlap, q179SubwordSegment,
    q181PieceUtilization, q271QlDirichlet)

  /** RAG-style chunking ([[graft.text.Chunker]]): 16-token windows,
    * stride 12 (4-token overlap). Shuffle-free scan-stage fan-out —
    * the per-row chunk count is data-dependent but bounded by doc
    * length, so there is no skew a longer-than-average document
    * doesn't already carry.
    */
  val q172RagChunks = GraftQuery(
    "q172_rag_chunks",
    "16-token / stride-12 overlapping chunks per document (RAG windows)",
    Some("""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      c AS (
        SELECT doc_id, len(t) AS n, t,
          unnest(range(CASE WHEN len(t) <= 16 THEN 1
            ELSE CAST(CEIL((len(t) - 16) / 12.0) AS BIGINT) + 1 END)) AS cid
        FROM toks)
      SELECT doc_id, CAST(cid AS INTEGER) AS chunk_id,
        CAST(cid * 12 AS INTEGER) AS start_tok,
        CAST(LEAST(16, n - cid * 12) AS INTEGER) AS n_toks,
        array_to_string(list_slice(t, cid * 12 + 1, cid * 12 + 16), ' ') AS chunk
      FROM c ORDER BY 1, 2"""),
    (s, d) => Chunker.chunks(documents(s, d), col("doc_id"), col("text"),
        chunkSize = 16, stride = 12)
      .orderBy(col("doc_id"), col("chunk_id")))

  /** Top-K vocabulary coverage: the corpus's 20 most frequent tokens
    * (count desc, token asc — deterministic at the boundary) become
    * the vocabulary; each document reports its out-of-vocabulary token
    * fraction — the coverage statistic a tokenizer-budget decision
    * reads. The vocab is a bounded top-K (TakeOrdered, never a global
    * sort) broadcast against the token stream: one shuffle for the
    * counts, then map-side membership.
    */
  val q173VocabOov = GraftQuery(
    "q173_vocab_oov",
    "per-doc out-of-vocabulary fraction vs the corpus top-20 vocab",
    Some("""WITH w AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents),
      vc AS (SELECT tok, COUNT(*) AS c FROM w GROUP BY 1),
      v AS (SELECT tok FROM vc ORDER BY c DESC, tok LIMIT 20)
      SELECT w.doc_id, COUNT(*) AS n_toks,
        CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        ROUND(AVG(CASE WHEN v.tok IS NULL THEN 1.0 ELSE 0.0 END), 4) AS oov_frac
      FROM w LEFT JOIN v ON w.tok = v.tok
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(20)
        .select(col("tok"), lit(1).as("in_v"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"),
          round(avg(when(col("in_v").isNull, 1.0).otherwise(0.0)), 4)
            .as("oov_frac"))
        .orderBy(col("doc_id"))
    })

  /** Reciprocal-rank fusion (RRF, k=60) of the two retrieval signals
    * the engine already scores exactly: q58's BM25 over fixed probe
    * terms (the one-pass list [[bm25]]) and q30's exact cosine
    * against a probe embedding (vec_id 0 — vec_id aligns with doc_id
    * in the fixture). Each
    * list is ranked by the DISTRIBUTED global rank
    * ([[graft.etl.GlobalRank.withGlobalId]]: one range sort, a
    * run-count collect only when it spans partitions, offsets added
    * in one pass) — a full-corpus ranking must never be one window
    * partition — on the 4-dp-rounded score
    * (both engines round identically; raw-double order at a tie
    * boundary would be ulp-fragile). Fusion is a full-outer join on
    * doc id; absent list membership contributes 0, rank sentinel -1.
    */
  val q174RrfFusion = GraftQuery(
    "q174_rrf_fusion",
    "reciprocal-rank fusion of BM25 and cosine retrieval (top 20)",
    Some("""WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        FROM documents),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             WHERE term IN ('spark', 'filter', 'stream') GROUP BY 1, 2),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n, AVG(x.dl * 1.0) AS avgdl FROM dl x),
      bm AS (
        SELECT t.doc_id,
          ROUND(SUM(ln(1.0 + (n.n - d.df + 0.5) / (d.df + 0.5))
            * t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / n.avgdl))), 4)
            AS bm25
        FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id) CROSS JOIN n
        GROUP BY 1),
      bmr AS (SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm FROM bm),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      cs AS (SELECT vec_id,
          ROUND(list_cosine_similarity(v, qv), 4) AS cos
        FROM e, q WHERE vec_id != 0),
      csr AS (SELECT vec_id AS doc_id,
          ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r_vec FROM cs),
      fused AS (
        SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
          CAST(COALESCE(b.r_bm, -1) AS INTEGER) AS r_bm,
          CAST(COALESCE(c.r_vec, -1) AS INTEGER) AS r_vec,
          ROUND(COALESCE(1.0 / (60 + b.r_bm), 0)
              + COALESCE(1.0 / (60 + c.r_vec), 0), 6) AS rrf
        FROM bmr b FULL OUTER JOIN csr c ON b.doc_id = c.doc_id)
      SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT 20"""),
    (s, d) => {
      val bmr = GlobalRank.withGlobalId(bm25(documents(s, d)),
          Seq(col("bm25").desc, col("doc_id")))
        .select(col("doc_id"), col("global_id").as("r_bm"))
      // cosine list vs the probe embedding
      val e = embeddings(s, d).select(col("vec_id"),
        Similarity.toDouble(col("embedding")).as("v"))
      val q = e.where(col("vec_id") === 0).select(col("v").as("qv"))
      val cs = e.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(Similarity.cosine(col("v"), col("qv")), 4).as("cos"))
      val csr = GlobalRank.withGlobalId(cs, Seq(col("cos").desc, col("vec_id")))
        .select(col("vec_id").as("doc_id"), col("global_id").as("r_vec"))
      bmr.join(csr, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("r_bm"), lit(-1L)).cast("int").as("r_bm"),
          coalesce(col("r_vec"), lit(-1L)).cast("int").as("r_vec"),
          round(coalesce(lit(1.0) / (lit(60) + col("r_bm")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)), 6)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    })

  /** q174's probe terms, in the order their scores are added. */
  private val ProbeTerms = Seq("spark", "filter", "stream")

  /** q174's BM25 list over any (doc_id, text) frame: q58's scoring
    * (k1 = 1.2, b = 0.75, Robertson idf) over [[ProbeTerms]], one row
    * per doc_id holding at least one of them, `bm25` rounded to 4 dp.
    *
    * One pass, no token explode: the scan stage splits each text once
    * into its length and each term's occurrence count (`size(t) −
    * size(array_remove(t, term))`), and one shuffle sums them per
    * doc_id (exact if a doc_id repeats). n, avgdl and each term's df
    * come from one scalar aggregate over those rows, attached by one
    * broadcast; both consumers read the same exchange. A null-text row
    * has no tokens; a null doc_id counts toward n, avgdl and df but is
    * not scored, as the oracle SQL's join on doc_id drops it.
    * The per-term scores are added in [[ProbeTerms]] order.
    */
  def bm25(docs: DataFrame): DataFrame = {
    val t = split(lower(trim(col("text"))), "\\s+")
    val tf = ProbeTerms.indices.map(i => s"tf$i")
    val perDoc = docs.where(col("text").isNotNull)
      .select(col("doc_id") +: size(t).as("dl") +: ProbeTerms.zip(tf).map {
        case (term, c) => (size(t) - size(array_remove(t, term))).as(c)
      }: _*)
      .groupBy(col("doc_id"))
      .agg(sum(col("dl")).as("dl"), tf.map(c => sum(col(c)).as(c)): _*)
    val stats = perDoc.agg(count(lit(1)).as("n"),
      avg(col("dl").cast("double")).as("avgdl") +:
        tf.map(c => count(when(col(c) > 0, 1)).as(s"d$c")): _*)
    val score = tf.map { c =>
      val (f, df) = (col(c), col(s"d$c"))
      val idf = log(lit(1.0) + (col("n") - df + 0.5) / (df + 0.5))
      val tfNorm = f * 2.2 /
        (f + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      when(f > 0, idf * tfNorm).otherwise(lit(0.0))
    }.reduce(_ + _)
    perDoc
      // one predicate over doc_id and the sums: a bare doc_id filter
      // would be pushed below the aggregate, and the two consumers'
      // exchanges would differ and both run
      .where(when(col("doc_id").isNotNull, tf.map(col(_) > 0).reduce(_ || _)))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 4).as("bm25"))
  }

  /** DSIR-style importance selection (Xie et al. 2023): score every
    * raw document by how much more likely its bigrams are under the
    * TARGET distribution (here lang='zh') than under the raw corpus,
    * both add-½-smoothed bigram models over the shared bigram
    * vocabulary; keep the top 50. Both models are distributed count
    * TABLES (the q162 discipline — never a collected model): at
    * 100 TB the raw model is TB-scale and the scoring join shuffles
    * on the bigram key with within-doc pre-combine, while the three
    * corpus scalars ride one broadcast row. The per-doc weight is
    * Σc·(ln p_t − ln p_r) / Σc over distinct-bigram rows.
    */
  val q175DsirSelect = GraftQuery(
    "q175_dsir_select",
    "bigram importance weights vs the zh target model; top-50 selection",
    Some("""WITH toks AS (
        SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      bg AS (
        SELECT doc_id, lang, unnest(list_transform(range(len(t) - 1),
            i -> t[i+1] || ' ' || t[i+2])) AS big
        FROM toks WHERE len(t) >= 2),
      dbg AS (SELECT doc_id, lang, big, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
      cr AS (SELECT big, CAST(SUM(c) AS BIGINT) AS cr FROM dbg GROUP BY 1),
      ct AS (SELECT big, CAST(SUM(c) AS BIGINT) AS ct FROM dbg
             WHERE lang = 'zh' GROUP BY 1),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS nr,
          CAST(SUM(CASE WHEN lang = 'zh' THEN c ELSE 0 END) AS BIGINT) AS nt,
          COUNT(DISTINCT big) AS v FROM dbg),
      sc AS (
        SELECT d.doc_id, d.lang, CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
          SUM(d.c * (LN((COALESCE(ct.ct, 0) + 0.5) / (tot.nt + 0.5 * tot.v))
                   - LN((cr.cr + 0.5) / (tot.nr + 0.5 * tot.v)))) / SUM(d.c) AS w
        FROM dbg d JOIN cr USING (big) LEFT JOIN ct USING (big) CROSS JOIN tot
        WHERE d.lang <> 'zh'
        GROUP BY 1, 2)
      SELECT doc_id, lang, n_bigrams, ROUND(w, 4) AS w
      FROM sc ORDER BY ROUND(w, 4) DESC, doc_id LIMIT 50"""),
    (s, d) => {
      // spread: the tokenize explosion is the pre-shuffle cost here
      val words = spread(documents(s, d)).select(col("doc_id"), col("lang"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      // within-doc pre-combined (doc, w1, w2, c) — four consumers below
      val dbg = words
        .select(col("doc_id"), col("lang"), col("tok").as("w1"),
          lead(col("tok"), 1).over(w).as("w2"))
        .where(col("w2").isNotNull)
        .groupBy(col("doc_id"), col("lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
      // Round-12 (guide §2.3 aggregate-before-shuffle, §2.4 share the
      // exchange): raw and target models are conditional sums over the
      // SAME (w1, w2) grouping, so one aggregation produces both — the
      // old separate cr/ct aggregations shuffled the bigram table
      // twice and joined twice; ct via `sum(when)` is 0 where the old
      // left-join produced NULL, and `coalesce(ct,0)` made those the
      // same value. The three corpus scalars fold out of the model
      // table itself (nr = Σcr, nt = Σct, v = its row count — exactly
      // the old countDistinct, whose expand-shuffle this deletes).
      // 2 shuffles + 1 join + 1 distinct-expand fewer; same doubles.
      val crt = dbg.groupBy(col("w1"), col("w2"))
        .agg(sum(col("c")).as("cr"),
          sum(when(col("lang") === "zh", col("c")).otherwise(0L)).as("ct"))
      val tot = crt.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"),
        count(lit(1)).as("v"))
      dbg.where(col("lang") =!= "zh")
        .join(crt, Seq("w1", "w2"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("lang"), col("c"),
          (log((col("ct") + 0.5) / (col("nt") + lit(0.5) * col("v")))
            - log((col("cr") + 0.5) / (col("nr") + lit(0.5) * col("v")))).as("lr"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c")).as("n_bigrams"),
          round(sum(col("c") * col("lr")) / sum(col("c")), 4).as("w"))
        .orderBy(col("w").desc, col("doc_id"))
        .limit(50)
    })

  /** Exact stratified 80/10/10 split: within every source, documents
    * are ordered by a salted md5 of their id (reproducible, unkeyed
    * to content) and cut at ⌊0.8n⌋/⌊0.9n⌋ — EXACT per-stratum
    * proportions, which `randomSplit` only approximates. The
    * within-source rank is [[graft.etl.GlobalRank.withPerKeyId]] —
    * one range sort by (source, hash), never one window partition
    * per source, so a 100 TB stratum still splits in byte-bounded
    * tasks. Cut fractions use n·8/10.0 (quotient steps of .2 — never
    * ulp-adjacent to an integer, so FLOOR agrees across engines).
    */
  val q176StratifiedSplit = GraftQuery(
    "q176_stratified_split",
    "exact per-source 80/10/10 hash split (train/val/test counts)",
    Some("""WITH h AS (
        SELECT doc_id, source, md5('split:' || doc_id) AS h FROM documents),
      r AS (
        SELECT doc_id, source,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
          COUNT(*) OVER (PARTITION BY source) AS n
        FROM h)
      SELECT source,
        CASE WHEN rk <= FLOOR(n * 8 / 10.0) THEN 'train'
             WHEN rk <= FLOOR(n * 9 / 10.0) THEN 'val'
             ELSE 'test' END AS split,
        COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM r GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) => {
      val h = documents(s, d).select(col("doc_id"), col("source"),
        md5(concat(lit("split:"), col("doc_id").cast("string"))).as("h"))
      val ranked = GlobalRank.withPerKeyId(h, col("source"),
        Seq(col("h"), col("doc_id")))
      val counts = h.groupBy(col("source")).agg(count(lit(1)).as("n"))
      ranked.join(broadcast(counts), Seq("source"))
        .select(col("source"), col("doc_id"),
          when(col("per_key_id") <= floor(col("n") * 8 / lit(10.0)), "train")
            .when(col("per_key_id") <= floor(col("n") * 9 / lit(10.0)), "val")
            .otherwise("test").as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source"), col("split"))
    })

  /** ROUGE-2-style overlap between paired documents (candidate = even
    * doc_id, reference = the following odd id — the model-output-
    * vs-reference shape of an eval harness, set semantics on distinct
    * bigrams): precision, recall, F1 per pair. The intersection is an
    * equi-join on (pair, bigram) — per-pair-bounded work, the same
    * discipline as every pair aggregate here; pairs with zero overlap
    * survive via the left join (P=R=F1=0). Pairs where either side
    * has no bigram (under-2-token doc) are excluded by construction.
    */
  val q178RougeOverlap = GraftQuery(
    "q178_rouge_overlap",
    "bigram precision/recall/F1 between paired docs (ROUGE-2 set form)",
    Some("""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      bgall AS (
        SELECT doc_id, unnest(list_transform(range(len(t) - 1),
            i -> t[i+1] || ' ' || t[i+2])) AS big
        FROM toks WHERE len(t) >= 2),
      bg AS (SELECT DISTINCT doc_id, big FROM bgall),
      nb AS (SELECT doc_id, COUNT(*) AS nb FROM bg GROUP BY 1),
      cand AS (SELECT doc_id // 2 AS pair, big FROM bg WHERE doc_id % 2 = 0),
      ref AS (SELECT doc_id // 2 AS pair, big FROM bg WHERE doc_id % 2 = 1),
      inter AS (
        SELECT c.pair, COUNT(*) AS n_inter
        FROM cand c JOIN ref r ON c.pair = r.pair AND c.big = r.big
        GROUP BY 1),
      u AS (
        SELECT a.doc_id // 2 AS pair, a.doc_id AS cand_id,
          b.doc_id AS ref_id, a.nb AS nc, b.nb AS nr
        FROM nb a JOIN nb b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 2 = 0)
      SELECT u.pair, u.cand_id, u.ref_id,
        CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
        ROUND(COALESCE(i.n_inter, 0) / (u.nc * 1.0), 4) AS p,
        ROUND(COALESCE(i.n_inter, 0) / (u.nr * 1.0), 4) AS r,
        ROUND(CASE WHEN COALESCE(i.n_inter, 0) = 0 THEN 0.0
          ELSE 2.0 * (i.n_inter / (u.nc * 1.0)) * (i.n_inter / (u.nr * 1.0))
             / ((i.n_inter / (u.nc * 1.0)) + (i.n_inter / (u.nr * 1.0))) END, 4)
          AS f1
      FROM u LEFT JOIN inter i USING (pair) ORDER BY 1"""),
    (s, d) => {
      val words = documents(s, d).select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val bg = words
        .select(col("doc_id"), col("tok").as("w1"),
          lead(col("tok"), 1).over(w).as("w2"))
        .where(col("w2").isNotNull)
        .select(col("doc_id"), concat_ws(" ", col("w1"), col("w2")).as("big"))
        .distinct()
        .localCheckpoint(false) // three consumers below
      val nb = bg.groupBy(col("doc_id")).agg(count(lit(1)).as("nb"))
      val cand = bg.where(pmod(col("doc_id"), lit(2)) === 0)
        .select(shiftright(col("doc_id"), 1).as("pair"), col("big"))
      val ref = bg.where(pmod(col("doc_id"), lit(2)) === 1)
        .select(shiftright(col("doc_id"), 1).as("pair"), col("big"))
      val inter = cand.join(ref, Seq("pair", "big"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n_inter"))
      val u = nb.select(col("doc_id").as("cand_id"), col("nb").as("nc"))
        .where(pmod(col("cand_id"), lit(2)) === 0)
        .join(nb.select(col("doc_id").as("ref_id"), col("nb").as("nr")),
          col("ref_id") === col("cand_id") + 1)
        .select(shiftright(col("cand_id"), 1).as("pair"),
          col("cand_id"), col("ref_id"), col("nc"), col("nr"))
      val ni = coalesce(col("n_inter"), lit(0L))
      val pCol = ni / (col("nc") * lit(1.0))
      val rCol = ni / (col("nr") * lit(1.0))
      u.join(inter, Seq("pair"), "left")
        .select(col("pair"), col("cand_id"), col("ref_id"),
          ni.as("n_inter"),
          round(pCol, 4).as("p"), round(rCol, 4).as("r"),
          round(when(ni === 0, 0.0)
            .otherwise(lit(2.0) * pCol * rCol / (pCol + rCol)), 4).as("f1"))
        .orderBy(col("pair"))
    })

  /** Frozen subword vocabulary for q179 — the single definition both
    * the Spark expression and the DuckDB oracle literals derive from
    * (interpolated into the SQL below, so the two sides cannot
    * drift). Single chars cover a–z EXCEPT 'k', and no piece ends
    * with 'k', so every 'k' (spark, key) exercises the counted
    * single-char fallback path. */
  private val Pieces4 = Seq("spar", "tabl", "wind", "filt", "cust", "valu",
    "quer", "orde", "merg", "batc", "stre", "vect", "colu")
  private val Pieces3 = Seq("row", "agg", "the", "ash", "can", "ine", "oin",
    "oup", "ort")
  private val Pieces2 = Seq("ta", "le", "ow", "er", "an", "in", "ar", "or",
    "sm", "da", "jo", "gr", "st", "ha", "pa", "li", "so", "du", "fa", "sl",
    "bi", "up")
  private val Pieces1 = ('a' to 'z').filter(_ != 'k').map(_.toString)
  private def sqlList(ps: Seq[String]): String =
    ps.map(p => s"'$p'").mkString("[", ", ", "]")

  /** Greedy longest-match subword segmentation with the frozen vocab
    * ([[graft.functions.Subword]]) — "tokenizer apply", the step the
    * BPE family (q128) could only rows-only-check because TRAINING is
    * iterative; applying a frozen vocab is deterministic, so this
    * entry carries a full value oracle (a recursive CTE replays the
    * greedy scan per word). Scale shape: the codegen'd expression
    * runs on DISTINCT words only (standard memoization — at 100 TB
    * the distinct-word table is orders smaller than the token
    * stream), then broadcast-joins back to occurrences for the
    * per-doc fertility rollup.
    */
  val q179SubwordSegment = GraftQuery(
    "q179_subword_segment",
    "per-doc subword fertility under a frozen greedy-longest-match vocab",
    Some(s"""WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        FROM documents),
      occ AS (SELECT doc_id, unnest(t) AS w FROM toks),
      words AS (SELECT DISTINCT w FROM occ),
      seg AS (
        SELECT w, 0 AS pos, 0 AS np, 0 AS nf FROM words
        UNION ALL
        SELECT w,
          pos + CASE
            WHEN list_contains(${sqlList(Pieces4)}, substr(w, pos + 1, 4)) THEN 4
            WHEN list_contains(${sqlList(Pieces3)}, substr(w, pos + 1, 3)) THEN 3
            WHEN list_contains(${sqlList(Pieces2)}, substr(w, pos + 1, 2)) THEN 2
            ELSE 1 END,
          np + 1,
          nf + CASE
            WHEN list_contains(${sqlList(Pieces4)}, substr(w, pos + 1, 4))
              OR list_contains(${sqlList(Pieces3)}, substr(w, pos + 1, 3))
              OR list_contains(${sqlList(Pieces2)}, substr(w, pos + 1, 2))
              OR list_contains(${sqlList(Pieces1)}, substr(w, pos + 1, 1))
            THEN 0 ELSE 1 END
        FROM seg WHERE pos < len(w)),
      done AS (SELECT w, np, nf FROM seg WHERE pos = len(w))
      SELECT o.doc_id, COUNT(*) AS n_words,
        CAST(SUM(d.np) AS BIGINT) AS n_pieces,
        CAST(SUM(d.nf) AS BIGINT) AS n_fallback,
        CAST(ROUND(CAST(CAST(SUM(d.np) * 1.0 / COUNT(*) AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS fertility
      FROM occ o JOIN done d USING (w) GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      import graft.functions.Subword
      val vocab = Pieces4 ++ Pieces3 ++ Pieces2 ++ Pieces1
      val occ = documents(s, d).select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      val seg = occ.select(col("w")).distinct()
        .select(col("w"),
          Subword.subword_stats(col("w"), vocab, maxLen = 4).as("packed"))
        .select(col("w"), shiftright(col("packed"), 32).as("np"),
          col("packed").bitwiseAND(lit(0xFFFFFFFFL)).as("nf"))
      occ.join(broadcast(seg), Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
          sum(col("nf")).as("n_fallback"),
          round(sum(col("np")) * lit(1.0) / count(lit(1)), 4).as("fertility"))
        .orderBy(col("doc_id"))
    })

  /** Vocabulary utilization under the q179 segmentation: corpus-wide
    * occurrence mass per PIECE (which vocabulary slots earn their
    * keep — the tokenizer-eval that decides vocab pruning). Same
    * distinct-word memoization: [[graft.functions.SubwordPieces]]
    * materializes each distinct word's piece sequence once, the
    * per-word occurrence counts ride the same row, and one explode +
    * aggregate yields piece mass. The result is ≤ |vocab| + |alphabet|
    * rows; fallback single chars appear as themselves (e.g. 'k'
    * here, which no vocab piece covers — its mass is the q179
    * n_fallback total).
    */
  val q181PieceUtilization = GraftQuery(
    "q181_piece_utilization",
    "occurrence mass + distinct-word reach per subword vocab piece",
    Some(s"""WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
        FROM documents),
      occ AS (SELECT doc_id, unnest(t) AS w FROM toks),
      wocc AS (SELECT w, COUNT(*) AS c FROM occ GROUP BY 1),
      seg AS (
        SELECT w, 0 AS pos, CAST(NULL AS VARCHAR) AS piece
        FROM (SELECT DISTINCT w FROM occ)
        UNION ALL
        SELECT w, pos + plen, substr(w, pos + 1, plen) AS piece FROM (
          SELECT w, pos, CASE
            WHEN list_contains(${sqlList(Pieces4)}, substr(w, pos + 1, 4)) THEN 4
            WHEN list_contains(${sqlList(Pieces3)}, substr(w, pos + 1, 3)) THEN 3
            WHEN list_contains(${sqlList(Pieces2)}, substr(w, pos + 1, 2)) THEN 2
            ELSE 1 END AS plen
          FROM seg WHERE pos < len(w))),
      p AS (SELECT w, piece FROM seg WHERE piece IS NOT NULL)
      SELECT p.piece, CAST(SUM(wocc.c) AS BIGINT) AS n_occ,
        COUNT(DISTINCT p.w) AS n_words
      FROM p JOIN wocc USING (w) GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      import graft.functions.Subword
      val vocab = Pieces4 ++ Pieces3 ++ Pieces2 ++ Pieces1
      val wocc = documents(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      wocc
        .select(col("w"), col("c"),
          explode(Subword.subword_pieces(col("w"), vocab, maxLen = 4))
            .as("piece"))
        .groupBy(col("piece"))
        .agg(sum(col("c")).as("n_occ"), countDistinct(col("w")).as("n_words"))
        .orderBy(col("piece"))
    })

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty 2001, μ=100) over q174's probe terms — the OTHER
    * classic lexical scorer next to BM25, and semantically different
    * where it matters: a document missing a query term still scores
    * via the collection model μ·P(t|C)/(dl+μ) instead of dropping the
    * term, so EVERY document gets a full |Q|-term score and document
    * length acts as the smoothing prior, not a tf normalizer.
    * score(d) = Σ_t ln((tf_{t,d} + μ·ctf_t/|C|)/(dl_d + μ)).
    *
    * Scale: the (doc × 3-term) grid comes from a broadcast attach of
    * the 3-row collection-model table onto the per-doc length table;
    * observed tf joins in equi on (doc, term); top-20 by the
    * 6dp-rounded score via TakeOrdered.
    */
  val q271QlDirichlet = GraftQuery(
    "q271_ql_dirichlet",
    "query-likelihood retrieval (Dirichlet μ=100) over the probe terms, top 20",
    Some("""WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)),
          '\s+')) AS term
        FROM documents),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
      tot AS (SELECT COUNT(*) * 1.0 AS ctot FROM toks),
      cm AS (
        SELECT term, COUNT(*) * 1.0 AS ctf FROM toks
        WHERE term IN ('spark', 'filter', 'stream') GROUP BY 1),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             WHERE term IN ('spark', 'filter', 'stream') GROUP BY 1, 2),
      g AS (
        SELECT dl.doc_id, dl.dl, cm.term, cm.ctf, tot.ctot,
          COALESCE(tf.tf, 0) AS tf
        FROM dl CROSS JOIN cm CROSS JOIN tot
        LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cm.term),
      sc AS (
        SELECT doc_id, MIN(dl) AS dl,
          SUM(ln((tf + 100.0 * ctf / ctot) / (dl + 100.0))) AS score
        FROM g GROUP BY 1)
      SELECT doc_id, CAST(dl AS BIGINT) AS dl, ROUND(score, 4) AS score
      FROM sc ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 20"""),
    (s, d) => qlDirichlet(documents(s, d),
      Seq("spark", "filter", "stream"), 100.0, 20))

  /** The q271 pipeline — SelectionSpec hand-traces a 2-doc corpus and
    * pins the smoothing semantics (a term-free doc still scores). */
  def qlDirichlet(docs: DataFrame, terms: Seq[String], mu: Double,
      k: Int): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tot = toks.agg((count(lit(1)) * lit(1.0)).as("ctot"))
    val cm = toks.filter(col("term").isin(terms: _*))
      .groupBy(col("term")).agg((count(lit(1)) * lit(1.0)).as("ctf"))
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val g = dl.crossJoin(broadcast(cm)).crossJoin(broadcast(tot))
      .join(tf, Seq("doc_id", "term"), "left")
      .select(col("doc_id"), col("dl"), col("ctf"), col("ctot"),
        coalesce(col("tf"), lit(0L)).as("tf"))
    val sc = g.groupBy(col("doc_id"))
      .agg(min(col("dl")).as("dl"),
        sum(log((col("tf") + lit(mu) * col("ctf") / col("ctot"))
          / (col("dl") + lit(mu)))).as("score"))
    sc.select(col("doc_id"), col("dl").cast("long").as("dl"),
        round(col("score"), 4).as("score"))
      .orderBy(round(col("score"), 6).desc, col("doc_id"))
      .limit(k)
  }
}
