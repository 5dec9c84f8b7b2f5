package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables._
import graft.text.Components

/** Round-3 training-data-pipeline wave: dedup clustering (connected
  * components), relevance scoring (TF-IDF / BM25), deterministic
  * hash-based sampling and domain mixing, keeper selection, quantile
  * bucketing, and per-group normalization — the operations that sit
  * between raw-corpus ingest and training-set emission at 100 TB.
  *
  * Sampling determinism: every sampling op here keys on a hex prefix
  * of md5(salt || id) compared as a STRING — uniform (md5), portable
  * (identical hex in Spark and DuckDB, the q25 precedent), and
  * reproducible across runs/engines, which is what a training-data
  * pipeline needs from a sample (rerunning the pipeline must yield
  * the same corpus). `rand()`-based sampling can't be oracle-checked
  * and can't be reproduced after a retry reshuffles partitions.
  */
object PipelineQueries {

  def queries: Seq[GraftQuery] = Seq(
    q56DedupComponents, q57Tfidf, q58Bm25, q59HashSample, q60WeightedMix,
    q61KeeperSelect, q62DecileBucket, q63MovingAvg, q64GroupSample,
    q65ZscoreNorm, q68DedupCorpus, q69Chunking, q70HashSplit,
    q71UnigramLm, q72TokenEntropy, q129LeakageSafeSplit, q159GlobalIds,
    q164IncrementalComponents, q168CurriculumOrder, q170QualityKeeper,
    q171BalancedShards, q284CorpusFunnel)

  /** q26's pair list as DuckDB CTEs (shared by the q56 oracle): exact
    * 3-gram Jaccard pairs at the given threshold, on the one shared
    * [[OracleCtes.shinglePairs]] prefix. */
  private[queries] def pairsCtes(threshold: Double): String =
    s"""${OracleCtes.shinglePairs},
      dup AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE inter * 1.0 / (n_a + n_b - inter) >= $threshold)"""

  /** Dedup clustering: near-dup pairs (q26's exact Jaccard ground
    * truth) → connected components via alternating large-star/
    * small-star ([[graft.text.Components]]) → every document labeled
    * with its dedup-group id (= min doc_id of the component). The
    * oracle computes the same transitive closure with a recursive CTE
    * — feasible for DuckDB at sf0.01, which is exactly why the Spark
    * side needs the O(log n)-round star algorithm instead.
    */
  val q56DedupComponents = GraftQuery(
    "q56_dedup_components",
    "near-dup pairs → connected components → per-doc dedup group id",
    Some(s"""WITH RECURSIVE ${pairsCtes(0.4)},
      edges AS (
        SELECT doc_a AS s, doc_b AS d FROM dup
        UNION ALL SELECT doc_b, doc_a FROM dup),
      walk(n, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, w.r FROM walk w JOIN edges e ON e.s = w.n)
      SELECT n AS doc_id, MIN(r) AS component
      FROM walk GROUP BY 1 ORDER BY 1"""),
    // reads the write-once component layout (ComponentLayout): four
    // catalog queries consume this same assignment — see its Scaladoc
    (s, d) => graft.sources.ComponentLayout.dedupComponents(s, d, 0.4)
      .orderBy(col("doc_id")))

  /** Leakage-safe train/test split: q70's hash split draws per DOC, so
    * two near-duplicates can straddle the boundary and the test set
    * leaks into training — the classic contamination bug. The safe
    * unit is the dedup COMPONENT: hash the component id (md5-prefix
    * cutoff, q101's trick — '4' of 16 first hex digits ≈ 25% test),
    * so an entire near-dup cluster lands on one side by construction.
    * Cost over q56 is one scan-side hash — group-aware splitting is
    * free once components exist. */
  val q129LeakageSafeSplit = GraftQuery(
    "q129_leakage_safe_split",
    "component-hashed train/test split (near-dup clusters never straddle)",
    Some(s"""WITH RECURSIVE ${pairsCtes(0.4)},
      edges AS (
        SELECT doc_a AS s, doc_b AS d FROM dup
        UNION ALL SELECT doc_b, doc_a FROM dup),
      walk(n, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, w.r FROM walk w JOIN edges e ON e.s = w.n),
      comp AS (SELECT n AS doc_id, MIN(r) AS component
        FROM walk GROUP BY 1)
      SELECT doc_id, component,
        CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 1) < '4'
          THEN 'test' ELSE 'train' END AS split
      FROM comp ORDER BY doc_id"""),
    (s, d) => graft.sources.ComponentLayout.dedupComponents(s, d, 0.4)
      .withColumn("split",
        when(substring(md5(col("component").cast("string")), 1, 1) < "4",
          "test").otherwise("train"))
      .orderBy(col("doc_id")))

  /** TF-IDF term weighting (smooth idf, the sklearn formulation:
    * idf = ln((N+1)/(df+1)) + 1). Single corpus scan: tf is one
    * shuffle on (doc, term); df derives from tf (one row per
    * (doc,term) → count per term IS document frequency) — no second
    * scan, no countDistinct. N joins in as a broadcast 1-row
    * aggregate, never a driver-side count. Output restricted to
    * doc_id < 50 (the per-doc weight vectors of a probe slice); df/N
    * still come from the FULL corpus, as idf must.
    */
  val q57Tfidf = GraftQuery(
    "q57_tfidf",
    "smooth TF-IDF per (doc, term) for doc_id < 50 (corpus-wide idf)",
    Some("""WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n FROM documents)
      SELECT t.doc_id, t.term, t.tf, d.df,
        ROUND(t.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0) + 1e-9, 4) AS tfidf
      FROM tf t JOIN df d USING (term) CROSS JOIN n
      WHERE t.doc_id < 50 ORDER BY t.doc_id, t.term"""),
    (s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = documents(s, d).agg(count(lit(1)).as("n"))
      tf.filter(col("doc_id") < 50)
        .join(df, Seq("term"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tf") * (log((col("n") + 1.0) / (col("df") + 1.0)) + 1.0)
            + 1e-9, 4).as("tfidf"))
        .orderBy(col("doc_id"), col("term"))
    })

  /** BM25 relevance (k1=1.2, b=0.75, Robertson idf) for a fixed term
    * set — the scoring a retrieval-based quality filter runs over the
    * corpus. Same single-scan tf→df derivation as q57; doc length and
    * corpus avgdl ride the same aggregates; both scalars (N, avgdl)
    * join as broadcast 1-row aggregates. Score emitted per matching
    * document, ordered by doc_id — no global top-k sort.
    */
  val q58Bm25 = GraftQuery(
    "q58_bm25",
    "BM25 score per doc for query terms (spark, filter, stream)",
    Some("""WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        FROM documents),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             WHERE term IN ('spark', 'filter', 'stream') GROUP BY 1, 2),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n, AVG(x.dl * 1.0) AS avgdl FROM dl x)
      SELECT t.doc_id,
        ROUND(SUM(ln(1.0 + (n.n - d.df + 0.5) / (d.df + 0.5))
          * t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / n.avgdl)))
          + 1e-9, 4) AS bm25
      FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id) CROSS JOIN n
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val tf = toks.filter(col("term").isin("spark", "filter", "stream"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = dl.agg(count(lit(1)).as("n"), avg(col("dl").cast("double")).as("avgdl"))
      val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
      val tfNorm = col("tf") * 2.2 /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      tf.join(broadcast(df), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(n))
        .groupBy(col("doc_id"))
        .agg(round(sum(idf * tfNorm) + 1e-9, 4).as("bm25"))
        .orderBy(col("doc_id"))
    })

  /** Deterministic Bernoulli sampling by hashed id: keep a document
    * iff the first two hex chars of md5("s:" || doc_id) fall under
    * the threshold — P = 0x29/256 ≈ 16%. Pure codegen'd scan filter
    * (no shuffle at all); the standard reproducible-subsample
    * technique for training corpora.
    */
  val q59HashSample = GraftQuery(
    "q59_hash_sample",
    "deterministic ~16% corpus sample by md5(doc_id) hex prefix",
    Some("""SELECT doc_id, source
      FROM documents
      WHERE substring(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 2) <= '28'
      ORDER BY doc_id"""),
    (s, d) => documents(s, d)
      .filter(substring(
        md5(concat(lit("s:"), col("doc_id").cast("string")).cast("binary")),
        1, 2) <= "28")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id")))

  /** Domain mixing: per-source sampling rates (1, 1/2, 1/4, 1/8 by
    * source index mod 4) applied with the same hashed-id coin — how a
    * pipeline reweights domains (up-sample wiki, down-sample
    * crawl) while staying reproducible. One aggregate over the scan;
    * the kept-count per source is deterministic, so it oracles
    * exactly.
    */
  val q60WeightedMix = GraftQuery(
    "q60_weighted_mix",
    "per-source weighted sampling (rates 1, .5, .25, .125) via hashed-id coin",
    Some("""SELECT source, COUNT(*) AS n_total,
        CAST(SUM(CASE WHEN substring(md5('m:' || CAST(doc_id AS VARCHAR)), 1, 2)
          <= CASE CAST(substring(source, 4) AS INTEGER) % 4
               WHEN 0 THEN 'ff' WHEN 1 THEN '7f' WHEN 2 THEN '3f'
               ELSE '1f' END
          THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM documents GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      // coin + tier thresholds shared with the q284 pipeline's mixture
      // stage — one source of truth (the withQualityReason precedent)
      val kept = graft.text.CorpusPipeline.mixtureCoinHex(col("doc_id")) <=
        graft.text.CorpusPipeline.mixtureThreshold(col("source"))
      documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(kept, 1).otherwise(0)).as("n_kept"))
        .orderBy(col("source"))
    })

  /** Keeper selection: within each exact-dup group (q25's md5 content
    * hash), keep the longest document (ties → min doc_id) — the pass
    * that turns dedup groups into the surviving corpus. Window is
    * partitioned by content hash: parallel over groups, no global
    * sort.
    */
  val q61KeeperSelect = GraftQuery(
    "q61_keeper_select",
    "longest-doc keeper per exact-dup content-hash group",
    Some("""WITH h AS (
        SELECT doc_id, n_chars,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash
        FROM documents),
      r AS (
        SELECT content_hash, doc_id, n_chars,
          ROW_NUMBER() OVER (PARTITION BY content_hash
            ORDER BY n_chars DESC, doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY content_hash) AS n_docs
        FROM h)
      SELECT content_hash, doc_id AS keep_id, n_chars AS keep_chars, n_docs
      FROM r WHERE rn = 1 ORDER BY content_hash"""),
    (s, d) => {
      val h = documents(s, d).select(col("doc_id"), col("n_chars"),
        md5(graft.text.Dedup.normalized(col("text")).cast("binary"))
          .as("content_hash"))
      val byHash = Window.partitionBy(col("content_hash"))
      h.withColumn("rn", row_number().over(
          byHash.orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("n_docs", count(lit(1)).over(byHash))
        .filter(col("rn") === 1)
        .select(col("content_hash"), col("doc_id").as("keep_id"),
          col("n_chars").as("keep_chars"), col("n_docs"))
        .orderBy(col("content_hash"))
    })

  /** Quantile bucketing: assign every order its totalprice decile.
    * Scale-safe form: the 9 cutoffs are ONE bounded-size percentile
    * aggregate collected to the driver (9 doubles — a broadcast
    * scalar, not a data collect) and compiled into a codegen'd
    * comparison chain; no global sort, no single-partition ntile
    * window (the naive NTILE(10) OVER (ORDER BY …) funnels 100 TB
    * through one task — the q34 anti-pattern). The +1e-6 margin keeps
    * last-ulp interpolation differences between engines from flipping
    * a boundary row (q38 precedent). At 100 TB the exact `percentile`
    * cutoff aggregate swaps for `approx_percentile` (bounded-memory
    * sketch, q52's pattern) — the assignment plan is unchanged; exact
    * is used here because the oracle's quantile_cont must agree.
    */
  val q62DecileBucket = GraftQuery(
    "q62_decile_bucket",
    "per-order totalprice decile via broadcast percentile cutoffs",
    Some("""WITH c AS (
        SELECT quantile_cont(o_totalprice,
          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
        FROM orders)
      SELECT o_orderkey, o_totalprice,
        CAST(1 + len(list_filter((SELECT cs FROM c),
          x -> o_totalprice > x + 1e-6)) AS INTEGER) AS decile
      FROM orders ORDER BY o_orderkey"""),
    (s, d) => {
      val o = orders(s, d)
      val cuts = o.agg(expr(
          "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"))
        .head.getSeq[Double](0)
      val decile = cuts.map(c =>
          when(col("o_totalprice") > c + 1e-6, 1).otherwise(0))
        .reduce[org.apache.spark.sql.Column](_ + _) + 1
      o.select(col("o_orderkey"), col("o_totalprice"),
          decile.cast("int").as("decile"))
        .orderBy(col("o_orderkey"))
    })

  /** 7-day moving average of daily per-type event volume — the
    * smoothing the reference runs over its daily play counts
    * (流行音乐趋势预测.md:997-1001 trend features). One shuffle on
    * event_type for both the daily rollup and the frame window.
    */
  val q63MovingAvg = GraftQuery(
    "q63_moving_avg",
    "7-day moving average of daily event counts per event type",
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds, COUNT(*) AS n
        FROM events GROUP BY 1, 2)
      SELECT event_type, ds, n,
        ROUND(AVG(n * 1.0) OVER (PARTITION BY event_type ORDER BY ds
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) + 1e-9, 4) AS ma7
      FROM daily ORDER BY event_type, ds"""),
    (s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("ds"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("ds"))
        .rowsBetween(-6, 0)
      daily
        .withColumn("ma7",
          round(avg(col("n").cast("double")).over(w) + 1e-9, 4))
        .orderBy(col("event_type"), col("ds"))
    })

  /** Per-group uniform sample: the 3 documents per source with the
    * smallest hashed ids — reservoir-sampling's deterministic,
    * rerun-stable replacement (same hash-order trick as q59, ranked
    * within each group; the window is partitioned, so no global
    * funnel).
    */
  val q64GroupSample = GraftQuery(
    "q64_group_sample",
    "deterministic 3-per-source sample by hashed-id rank",
    Some("""WITH r AS (
        SELECT source, doc_id,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY md5('g:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
      SELECT source, doc_id, CAST(rk AS INTEGER) AS rk
      FROM r WHERE rk <= 3 ORDER BY source, rk"""),
    (s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(
        md5(concat(lit("g:"), col("doc_id").cast("string")).cast("binary")),
        col("doc_id"))
      documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("source"), col("doc_id"), col("rk").cast("int").as("rk"))
        .orderBy(col("source"), col("rk"))
    })

  /** End-to-end dedup: near-dup pairs → components (q56) → one keeper
    * per component by the q61 rule (longest doc, ties → min id) — the
    * full "raw corpus in, cleaned corpus out" pass, composed from the
    * same operators the oracle re-derives with a recursive CTE.
    * Because exact duplicates have Jaccard 1.0, one threshold handles
    * exact AND near dups in a single component structure.
    */
  val q68DedupCorpus = GraftQuery(
    "q68_dedup_corpus",
    "surviving corpus after CC dedup + longest-doc keeper per component",
    Some(s"""WITH RECURSIVE ${pairsCtes(0.4)},
      edges AS (
        SELECT doc_a AS s, doc_b AS d FROM dup
        UNION ALL SELECT doc_b, doc_a FROM dup),
      walk(n, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, w.r FROM walk w JOIN edges e ON e.s = w.n),
      comp AS (SELECT n AS doc_id, MIN(r) AS component FROM walk GROUP BY 1),
      ranked AS (
        SELECT c.component, c.doc_id, d.n_chars,
          ROW_NUMBER() OVER (PARTITION BY c.component
            ORDER BY d.n_chars DESC, c.doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY c.component) AS n_members
        FROM comp c JOIN documents d USING (doc_id))
      SELECT doc_id, component, n_members
      FROM ranked WHERE rn = 1 ORDER BY doc_id"""),
    (s, d) => {
      val docs = documents(s, d)
      val byComp = Window.partitionBy(col("component"))
      graft.sources.ComponentLayout.dedupComponents(s, d, 0.4)
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
        .withColumn("rn", row_number().over(
          byComp.orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(byComp))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("component"), col("n_members"))
        .orderBy(col("doc_id"))
    })

  /** Document chunking with overlap (size 32 tokens, stride 24) — the
    * context-window segmentation step before tokenization/training.
    * One tokenize pass; chunk starts come from `sequence()` (codegen),
    * slices from `slice()` — no per-token explode, so a document costs
    * O(chunks), not O(tokens), through the shuffle-free plan.
    */
  val q69Chunking = GraftQuery(
    "q69_chunking",
    "overlapping token chunks (size 32, stride 24) per document",
    Some("""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      starts AS (
        SELECT doc_id, t, unnest(range(0, len(t), 24)) AS start FROM toks)
      SELECT doc_id, CAST(start / 24 AS INTEGER) AS chunk_id,
        CAST(least(start + 32, len(t)) - start AS BIGINT) AS n_tokens,
        array_to_string(t[start + 1 : least(start + 32, len(t))], ' ')
          AS chunk_text
      FROM starts ORDER BY doc_id, chunk_id"""),
    (s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("t"))
      toks
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(0), size(col("t")) - 1, lit(24))).as("start"))
        .select(col("doc_id"),
          (col("start") / 24).cast("int").as("chunk_id"),
          (least(col("start") + 32, size(col("t"))) - col("start"))
            .cast("long").as("n_tokens"),
          array_join(slice(col("t"), col("start") + 1,
            least(lit(32), size(col("t")) - col("start"))), " ").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_id"))
    })

  /** Deterministic train/val/test split (~80/10/10) by hashed doc id —
    * the split a training pipeline must reproduce exactly on rerun
    * (and that survives partition retries, unlike randomSplit's
    * per-partition RNG). Same hex-prefix coin as q59/q60.
    */
  val q70HashSplit = GraftQuery(
    "q70_hash_split",
    "deterministic 80/10/10 train/val/test assignment by hashed doc id",
    Some("""SELECT doc_id, source,
        CASE WHEN substring(md5('sp:' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'cb'
               THEN 'train'
             WHEN substring(md5('sp:' || CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5'
               THEN 'val'
             ELSE 'test' END AS split
      FROM documents ORDER BY doc_id"""),
    (s, d) => {
      val hex2 = substring(
        md5(concat(lit("sp:"), col("doc_id").cast("string")).cast("binary")), 1, 2)
      documents(s, d)
        .select(col("doc_id"), col("source"),
          when(hex2 <= "cb", "train").when(hex2 <= "e5", "val")
            .otherwise("test").as("split"))
        .orderBy(col("doc_id"))
    })

  /** Unigram language-model scoring: mean token log-probability under
    * the corpus's own unigram distribution — the classic
    * perplexity-style quality filter (documents of improbable tokens
    * score low). Token counts and the corpus total derive from ONE
    * tokenize pass; the per-term probability table joins back on term
    * (shuffle, or broadcast when the vocab fits). No smoothing needed:
    * every scored token is in the vocabulary by construction.
    */
  val q71UnigramLm = GraftQuery(
    "q71_unigram_lm",
    "mean unigram log-probability per document (corpus-trained LM)",
    Some("""WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        FROM documents),
      cnt AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
      tot AS (SELECT COUNT(*) AS t FROM toks)
      SELECT k.doc_id, COUNT(*) AS n_tokens,
        CAST(ROUND(CAST(CAST(SUM(ln(cnt.c * 1.0 / tot.t)) / COUNT(*) + 1e-9 AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE)
          AS avg_logprob
      FROM toks k JOIN cnt USING (term) CROSS JOIN tot
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      val cnt = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
      val tot = toks.agg(count(lit(1)).as("t"))
      toks.join(cnt, Seq("term"))
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(sum(log(col("c") * 1.0 / col("t"))) / count(lit(1)) + 1e-9, 4)
            .as("avg_logprob"))
        .orderBy(col("doc_id"))
    })

  /** Token-distribution entropy per document (nats): low entropy =
    * repetitive/boilerplate text, the other standard quality signal.
    * One shuffle on (doc, term) for the counts, one on doc for the
    * entropy sum.
    */
  val q72TokenEntropy = GraftQuery(
    "q72_token_entropy",
    "token-distribution entropy (nats) per document",
    Some("""WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS c FROM (
          SELECT doc_id,
            unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
          FROM documents) GROUP BY 1, 2),
      n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1)
      SELECT tf.doc_id, n.n AS n_tokens,
        CAST(COUNT(*) AS BIGINT) AS n_distinct,
        CAST(ROUND(CAST(CAST(-SUM((tf.c * 1.0 / n.n) * ln(tf.c * 1.0 / n.n)) + 1e-9 AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE)
          AS entropy
      FROM tf JOIN n USING (doc_id)
      GROUP BY 1, 2 ORDER BY 1"""),
    (s, d) => {
      val tf = documents(s, d).select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
      val n = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("n"))
      val p = col("c") * 1.0 / col("n")
      tf.join(n, Seq("doc_id"))
        .groupBy(col("doc_id"), col("n"))
        .agg(count(lit(1)).cast("long").as("n_distinct"),
          round(-sum(p * log(p)) + 1e-9, 4).as("entropy"))
        .select(col("doc_id"), col("n").as("n_tokens"), col("n_distinct"),
          col("entropy"))
        .orderBy(col("doc_id"))
    })

  /** Per-group z-score normalization (feature standardization keyed by
    * group — the per-domain form of the reference's global
    * StandardScaler, 流行音乐趋势预测.md:177): group stats via one
    * aggregate, broadcast back, codegen'd arithmetic on the scan. No
    * window over the full table — the stats table is one row per
    * source.
    */
  val q65ZscoreNorm = GraftQuery(
    "q65_zscore_norm",
    "per-source z-score of document length (agg + broadcast join)",
    Some("""WITH s AS (
        SELECT source, AVG(n_chars * 1.0) AS mu,
          stddev_samp(n_chars * 1.0) AS sigma
        FROM documents GROUP BY 1)
      SELECT d.doc_id, d.source,
        ROUND((d.n_chars - s.mu) / s.sigma + 1e-9, 4) AS z
      FROM documents d JOIN s USING (source) ORDER BY d.doc_id"""),
    (s, d) => {
      val docs = documents(s, d)
      val stats = docs.groupBy(col("source"))
        .agg(avg(col("n_chars").cast("double")).as("mu"),
          stddev_samp(col("n_chars").cast("double")).as("sigma"))
      docs.join(broadcast(stats), Seq("source"))
        .select(col("doc_id"), col("source"),
          round((col("n_chars") - col("mu")) / col("sigma") + 1e-9, 4).as("z"))
        .orderBy(col("doc_id"))
    })

  /** Dense global id assignment WITHOUT the single-partition global
    * window ([[graft.etl.GlobalRank]]: one range sort → per-partition
    * run counts → offset + running count). (lang, doc_id) is a total
    * order, so the distributed rank equals the oracle's plain
    * ROW_NUMBER() OVER that order regardless of how the ranges fell. */
  val q159GlobalIds = GraftQuery(
    "q159_global_ids",
    "dense global row numbers via one range sort + run-count offsets (no global window)",
    Some("""SELECT doc_id, lang,
        ROW_NUMBER() OVER (ORDER BY lang, doc_id) AS global_id
      FROM documents ORDER BY doc_id"""),
    (s, d) => graft.etl.GlobalRank.withGlobalId(
        documents(s, d).select(col("doc_id"), col("lang")),
        Seq(col("lang"), col("doc_id")))
      .orderBy(col("doc_id")))

  /** Incremental component maintenance
    * ([[graft.text.Components.incrementalComponents]]): 80% of the
    * corpus plays "yesterday" (its assignment computed over its own
    * pairs — standing in for the persisted ComponentLayout), the
    * doc_id%10 ∈ {8,9} slice arrives as today's wave, and the star
    * fixpoint runs ONLY over the contracted wave graph. Contraction
    * preserves the min-id invariant exactly, so the oracle is the
    * same full-corpus recursive CTE as q56 — the incremental path
    * must be byte-identical to the batch recompute it avoids. At
    * 100 TB this is the admission-time companion to q154/q160:
    * detect (ExactSubstr/LSH) → maintain (this) → keeper-select,
    * without ever rebuilding yesterday's transitive closure.
    */
  val q164IncrementalComponents = GraftQuery(
    "q164_incremental_components",
    "wave pairs merged into yesterday's components == batch recompute",
    Some(s"""WITH RECURSIVE ${pairsCtes(0.4)},
      edges AS (
        SELECT doc_a AS s, doc_b AS d FROM dup
        UNION ALL SELECT doc_b, doc_a FROM dup),
      walk(n, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, w.r FROM walk w JOIN edges e ON e.s = w.n)
      SELECT n AS doc_id, MIN(r) AS component
      FROM walk GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      import graft.text.Components
      val docs = documents(s, d)
      val pairs = graft.sources.PairsLayout.jaccardPairs(s, d, 0.4)
      val waveA = pmod(col("doc_a"), lit(10)) >= 8
      val waveB = pmod(col("doc_b"), lit(10)) >= 8
      // yesterday's assignment is a persisted layout (that IS the
      // operational contract); only the wave merge runs here
      val yesterday =
        graft.sources.ComponentLayout.yesterdayComponents(s, d, 0.4)
      val merged = Components.incrementalComponents(yesterday,
        pairs.filter(waveA || waveB)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      docs.select(col("doc_id"))
        .join(merged.withColumnRenamed("node", "doc_id"),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .orderBy(col("doc_id"))
    })

  /** Curriculum ordering for training-set emission: bucket documents
    * by length band (static 200-char bins — a pure map, never a
    * global quantile pass), rank each bucket shortest-first, and
    * interleave buckets round-robin so consecutive training batches
    * mix difficulty bands — `curriculum_pos = (rank−1)·10 + bucket`
    * is the interleaved total order (positions are sparse where
    * buckets exhaust; an ordering key, not a dense id). The per-bucket
    * rank is [[graft.etl.GlobalRank.withPerKeyId]] — one range sort
    * by (bucket, length, id), then a running count per bucket from
    * per-partition run-count offsets — because the naive
    * `row_number over (partition by bucket)` gives each of the 10
    * buckets ONE window partition: a 10-task sort at any corpus size
    * (the q159 argument, per key).
    */
  val q168CurriculumOrder = GraftQuery(
    "q168_curriculum_order",
    "length-bucketed curriculum: distributed per-bucket rank, round-robin interleave",
    Some("""WITH b AS (
        SELECT doc_id, n_chars,
          LEAST(CAST(FLOOR(n_chars / 200.0) AS INTEGER), 9) AS bucket
        FROM documents),
      r AS (
        SELECT doc_id, bucket,
          ROW_NUMBER() OVER (PARTITION BY bucket
            ORDER BY n_chars, doc_id) AS rank_in_bucket
        FROM b)
      SELECT doc_id, bucket, rank_in_bucket,
        (rank_in_bucket - 1) * 10 + bucket AS curriculum_pos
      FROM r ORDER BY doc_id"""),
    (s, d) => {
      val b = documents(s, d).select(col("doc_id"), col("n_chars"),
        least(floor(col("n_chars") / 200.0), lit(9)).cast("int")
          .as("bucket"))
      graft.etl.GlobalRank
        .withPerKeyId(b, col("bucket"), Seq(col("n_chars"), col("doc_id")))
        .select(col("doc_id"), col("bucket"),
          col("per_key_id").as("rank_in_bucket"),
          ((col("per_key_id") - 1) * 10 + col("bucket"))
            .as("curriculum_pos"))
        .orderBy(col("doc_id"))
    })

  /** Quality-aware canonical selection: one keeper per NEAR-dup
    * component (q56's clusters), chosen by a content-quality score —
    * alpha-character density × ln(1 + tokens) — instead of q61's
    * min-id/longest-exact-dup policy. This is the curation pass that
    * emits the canonical corpus after clustering (keep the cleanest,
    * longest-signal variant; drop the OCR-damaged/truncated twins).
    * The argmax is `max(struct(score, −doc_id))` — a plain aggregate
    * with map-side combine (ties to the smaller id), no per-component
    * window — and the component assignment is the write-once
    * ComponentLayout, so the live work is one scan + one keyed
    * aggregate. Score selection compares raw doubles; near-dup
    * variants differ at ≥1e-3 (a token or character), five orders
    * above any libm ulp drift, and exact twins tie out by id.
    */
  val q170QualityKeeper = GraftQuery(
    "q170_quality_keeper",
    "per-component canonical keeper by alpha-density × ln(1+tokens) score",
    Some(s"""WITH RECURSIVE ${pairsCtes(0.4)},
      edges AS (
        SELECT doc_a AS s, doc_b AS d FROM dup
        UNION ALL SELECT doc_b, doc_a FROM dup),
      walk(n, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, w.r FROM walk w JOIN edges e ON e.s = w.n),
      comp AS (SELECT n AS doc_id, MIN(r) AS component
        FROM walk GROUP BY 1),
      sc AS (
        SELECT doc_id,
          (length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 1.0
             / n_chars)
            * ln(1 + len(regexp_split_to_array(lower(trim(text)), '\\s+')))
            AS score
        FROM documents),
      r AS (
        SELECT c.component, c.doc_id, sc.score,
          ROW_NUMBER() OVER (PARTITION BY c.component
            ORDER BY sc.score DESC, c.doc_id) AS rn,
          COUNT(*) OVER (PARTITION BY c.component) AS n_docs
        FROM comp c JOIN sc USING (doc_id))
      SELECT component, doc_id AS keep_id,
        ROUND(score + 1e-9, 4) AS keep_score, n_docs
      FROM r WHERE rn = 1 ORDER BY component"""),
    (s, d) => {
      val score =
        (length(regexp_replace(lower(col("text")), "[^a-z]", ""))
          * lit(1.0) / col("n_chars")) *
          log(lit(1) + size(split(lower(trim(col("text"))), "\\s+")))
      val scored = documents(s, d)
        .select(col("doc_id"), score.as("score"))
        .join(graft.sources.ComponentLayout.dedupComponents(s, d, 0.4),
          Seq("doc_id"))
      scored.groupBy(col("component"))
        .agg(max(struct(col("score"), (-col("doc_id")).as("nid"))).as("m"),
          count(lit(1)).as("n_docs"))
        .select(col("component"), (-col("m.nid")).as("keep_id"),
          round(col("m.score") + 1e-9, 4).as("keep_score"), col("n_docs"))
        .orderBy(col("component"))
    })

  /** Token-balanced output sharding: rank documents by token count
    * (largest first) with the distributed global rank (q159's
    * machinery — no single-partition window), then stripe rank r to
    * shard (r−1) mod 8. Striping is the deterministic, one-pass
    * alternative to greedy bin-packing: consecutive ranks land on
    * different shards, so every shard gets one doc from each size
    * stratum and the shard token sums differ by at most one document
    * per stratum — the property a training-file writer needs (equal
    * work per output file) without any driver-side packing loop.
    */
  val q171BalancedShards = GraftQuery(
    "q171_balanced_shards",
    "size-striped 8-way sharding: per-shard doc and token totals",
    Some("""WITH t AS (
        SELECT doc_id,
          len(regexp_split_to_array(lower(trim(text)), '\s+')) AS tokens
        FROM documents),
      r AS (
        SELECT doc_id, tokens,
          ROW_NUMBER() OVER (ORDER BY tokens DESC, doc_id) AS rk
        FROM t)
      SELECT CAST((rk - 1) % 8 AS INTEGER) AS shard,
        COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS total_tokens
      FROM r GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val t = documents(s, d).select(col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).as("tokens"))
      graft.etl.GlobalRank
        .withGlobalId(t, Seq(col("tokens").desc, col("doc_id")))
        .groupBy(((col("global_id") - 1) % 8).cast("int").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tokens")).cast("long").as("total_tokens"))
        .orderBy(col("shard"))
    })

  /** The end-to-end curation pipeline, hash-verified as ONE query:
    * [[graft.text.CorpusPipeline.funnel]] runs eval-holdout → exact
    * dedup (q61 keepers) → near-dup components (q26 pairs + q56
    * closure) → quality gate (q90) → decontamination (q89) → mixture
    * coin (q60) → sequence packing (q102) and reports docs+tokens
    * surviving each stage. The oracle chains every stage's proven SQL
    * form through one WITH RECURSIVE — so a drift ANYWHERE in the
    * composition (keeper tie-break, threshold, coin salt, packing
    * boundary) flips the funnel hash. The catalog entry runs the
    * exact-Jaccard pair regime; the MinHash-LSH regime (the 100 TB
    * candidate path, same downstream plan) is parity-pinned in
    * CorpusPipelineSpec and stage-timed at amplified scale by
    * perfbench's `pipelines-10x` workload. */
  val q284CorpusFunnel = GraftQuery(
    "q284_corpus_funnel",
    "end-to-end curation funnel: docs+tokens surviving each pipeline stage",
    Some("""WITH RECURSIVE
      tr AS (
        SELECT doc_id, source, text, n_chars,
          CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT)
            AS n_tok
        FROM documents WHERE doc_id % 20 <> 0),
      ekr AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
            ORDER BY n_chars DESC, doc_id) AS rn
        FROM tr),
      ek AS (SELECT doc_id, source, text, n_chars, n_tok FROM ekr WHERE rn = 1),
      toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM ek),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
            i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
        FROM toks WHERE len(t) >= 3),
      ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sh),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
          MIN(a.n_sh) AS n_a, MIN(b.n_sh) AS n_b
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      dup AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE inter * 1.0 / (n_a + n_b - inter) >= 0.4),
      edges AS (
        SELECT doc_a AS s, doc_b AS d FROM dup
        UNION ALL SELECT doc_b, doc_a FROM dup),
      walk(n, r) AS (
        SELECT doc_id, doc_id FROM ek
        UNION
        SELECT e.d, w.r FROM walk w JOIN edges e ON e.s = w.n),
      comp AS (SELECT n AS doc_id, MIN(r) AS component FROM walk GROUP BY 1),
      nkr AS (
        SELECT ek.*, ROW_NUMBER() OVER (PARTITION BY c.component
            ORDER BY ek.n_chars DESC, ek.doc_id) AS rn2
        FROM ek JOIN comp c USING (doc_id)),
      nk AS (SELECT doc_id, source, text, n_chars, n_tok FROM nkr WHERE rn2 = 1),
      wtok AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
          AS tok
        FROM nk),
      tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM wtok GROUP BY 1, 2),
      qs AS (
        SELECT doc_id, SUM(c) AS q_ntok, MAX(c) * 1.0 / SUM(c) AS top_frac,
          SUM(CASE WHEN tok IN ('the', 'a') THEN c ELSE 0 END) * 1.0 / SUM(c)
            AS stop_frac
        FROM tc GROUP BY 1),
      qk AS (
        SELECT nk.* FROM nk JOIN qs USING (doc_id)
        WHERE NOT (q_ntok < 30 OR q_ntok > 95
          OR top_frac > 0.15 OR stop_frac > 0.12)),
      btoks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents WHERE doc_id % 20 = 0),
      bsh AS (
        SELECT DISTINCT unnest(list_distinct(list_transform(range(len(t) - 2),
            i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS sh
        FROM btoks WHERE len(t) >= 3),
      hits AS (
        SELECT e.doc_id, COUNT(*) AS n_sh,
          SUM(CASE WHEN e.sh IN (SELECT sh FROM bsh) THEN 1 ELSE 0 END)
            AS n_hit
        FROM ex e JOIN qk USING (doc_id) GROUP BY 1),
      dk AS (
        SELECT qk.* FROM qk LEFT JOIN hits USING (doc_id)
        WHERE hits.doc_id IS NULL OR n_hit * 1.0 / n_sh < 0.5),
      mk AS (
        SELECT * FROM dk
        WHERE substring(md5('m:' || CAST(doc_id AS VARCHAR)), 1, 2) <=
          CASE CAST(substring(source, 4) AS INTEGER) % 4
            WHEN 0 THEN 'ff' WHEN 1 THEN '7f' WHEN 2 THEN '3f'
            ELSE '1f' END),
      pc AS (
        SELECT doc_id % 8 AS shard, n_tok AS tok,
          COALESCE(SUM(n_tok) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM mk),
      bins AS (
        SELECT shard, FLOOR(cum / 2048) AS bin,
          COUNT(*) AS nd, SUM(tok) AS tk
        FROM pc GROUP BY 1, 2)
      SELECT * FROM (
        SELECT 'a_ingest' AS stage, COUNT(*) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM tr
        UNION ALL SELECT 'b_exact_dedup', COUNT(*),
          CAST(SUM(n_tok) AS BIGINT) FROM ek
        UNION ALL SELECT 'c_near_dedup', COUNT(*),
          CAST(SUM(n_tok) AS BIGINT) FROM nk
        UNION ALL SELECT 'd_quality', COUNT(*),
          CAST(SUM(n_tok) AS BIGINT) FROM qk
        UNION ALL SELECT 'e_decontaminated', COUNT(*),
          CAST(SUM(n_tok) AS BIGINT) FROM dk
        UNION ALL SELECT 'f_mixed', COUNT(*),
          CAST(SUM(n_tok) AS BIGINT) FROM mk
        UNION ALL SELECT 'g_packed', COUNT(*),
          CAST(SUM(tk) AS BIGINT) FROM bins
      ) ORDER BY stage"""),
    (s, d) => graft.text.CorpusPipeline.funnel(documents(s, d),
      corpusShingles = Some(graft.sources.ShingleLayout.shingles(s, d)),
      corpusPairs = Some(graft.sources.PairsLayout.jaccardPairs(s, d,
        graft.text.CorpusPipeline.NearDupThreshold))))
}
