package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables._

/** Corpus-quality + sketch-merge wave: the Gopher/C4-style repetition
  * signals, regex scrubbing, mergeable-sketch rollups and the ANN
  * self-join that round out the training-data pipeline family
  * (SURVEY.md §7.6; quality scoring precedent in q23/q71/q72).
  */
object CorpusQueries {

  def queries: Seq[GraftQuery] = Seq(
    q80RepetitionFilter, q81Redaction, q82HllMerge, q83AnnJoin,
    q89Decontamination, q90QualityGate, q99SampledEstimate,
    q100HoppingWindows, q106PqAnn, q107DupSpans, q128BpeTrain,
    q162BigramLm, q163PiiRedact, q197GoodTuring, q198BigramPmi,
    q220HeapsLaw, q221QuantileNorm, q274Stylometry)

  /** Bigram PMI collocations — the collocation-mining primitive
    * (which adjacent pairs are "phrases"; feeds tokenizer merges
    * (q128 BPE scores are the count form of this) and stop-phrase
    * lists). Bigrams come from ONE lead window per doc (the q80 gram
    * discipline); PMI joins the two unigram marginals broadcast-sized
    * onto the bigram counts. Output is the top-20 by (count, bigram)
    * — a deterministic integer order; PMI itself is reported, not
    * ranked on, so no float ordering crosses engines. A min-count
    * floor (≥ 5) keeps the rare-pair PMI noise out, the standard
    * collocation practice.
    */
  val q198BigramPmi = GraftQuery(
    "q198_bigram_pmi",
    "top-20 bigram collocations with PMI over unigram marginals",
    Some("""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      w AS (SELECT doc_id, unnest(t) AS tok FROM toks),
      uni AS (SELECT tok, COUNT(*) AS c FROM w GROUP BY 1),
      nuni AS (SELECT SUM(c) AS n FROM uni),
      bg AS (
        SELECT t[i+1] AS w1, t[i+2] AS w2
        FROM toks, unnest(range(len(t) - 1)) AS u(i)
        WHERE len(t) >= 2),
      bc AS (
        SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2
        HAVING COUNT(*) >= 5),
      nbg AS (SELECT CAST(SUM(len(t) - 1) AS BIGINT) AS n
              FROM toks WHERE len(t) >= 2)
      SELECT w1, w2, CAST(bc.c AS BIGINT) AS c,
        CAST(ROUND(CAST(CAST(log2((bc.c * 1.0 / nbg.n) /
          ((u1.c * 1.0 / nuni.n) * (u2.c * 1.0 / nuni.n))) AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS pmi
      FROM bc JOIN uni u1 ON u1.tok = w1 JOIN uni u2 ON u2.tok = w2,
        nbg, nuni
      ORDER BY c DESC, w1, w2 LIMIT 20"""),
    (s, d) => {
      val words = documents(s, d).select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      val uni = words.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val nuni = uni.agg(sum(col("c")).as("n_uni"))
      val wl = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val bc = words
        .withColumn("w2", lead(col("tok"), 1).over(wl))
        .where(col("w2").isNotNull)
        .groupBy(col("tok").as("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
        .where(col("c") >= 5)
      val nbg = words
        .withColumn("w2", lead(col("tok"), 1).over(wl))
        .where(col("w2").isNotNull)
        .agg(count(lit(1)).cast("long").as("n_bg"))
      bc
        .join(uni.toDF("w1", "c1"), Seq("w1"))
        .join(uni.toDF("w2", "c2"), Seq("w2"))
        .crossJoin(broadcast(nbg)).crossJoin(broadcast(nuni))
        .select(col("w1"), col("w2"), col("c"),
          round(log(2.0, (col("c") / col("n_bg")) /
            ((col("c1") / col("n_uni")) * (col("c2") / col("n_uni")))), 4)
            .as("pmi"))
        .orderBy(col("c").desc, col("w1"), col("w2")).limit(20)
    })

  /** Frequency-of-frequencies + Good–Turing adjusted counts for the
    * corpus vocabulary — the smoothing statistic every count-based LM
    * (q71 unigram, q162 bigram) needs for its unseen-mass estimate,
    * and the vocab-curation readout (N₁/N = hapax share ≈ how much of
    * the corpus a bigger crawl would still surprise). Token counts
    * are one shuffle on the token; the count-of-counts table collapses
    * to ≤ max-count rows, so the r→r+1 self-join for
    * r* = (r+1)·N_{r+1}/N_r is metadata-scale. Reported for the 10
    * SMALLEST observed counts (the GT-relevant low-frequency tail —
    * a fixed `r ≤ k` cut would be vacuous on a corpus whose rarest
    * token already exceeds k, as this fixture's does); r* is NULL
    * where N_{r+1} = 0 — the honest "estimate undefined", not a zero.
    */
  val q197GoodTuring = GraftQuery(
    "q197_good_turing",
    "count-of-counts N_r and Good-Turing r* for the 10 rarest count classes",
    Some("""WITH w AS (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        FROM documents),
      tc AS (SELECT tok, COUNT(*) AS c FROM w GROUP BY 1),
      ff AS (SELECT c AS r, COUNT(*) AS n_r FROM tc GROUP BY 1),
      low AS (SELECT r, n_r FROM ff ORDER BY r LIMIT 10)
      SELECT a.r, CAST(a.n_r AS BIGINT) AS n_r,
        CAST(ROUND(CAST(CAST((a.r + 1) * b.n_r * 1.0 / a.n_r AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS gt_r
      FROM low a LEFT JOIN ff b ON b.r = a.r + 1
      ORDER BY a.r"""),
    (s, d) => {
      val tc = documents(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val ff = tc.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
        .localCheckpoint(false) // low slice + the r→r+1 join side
      val low = ff.orderBy(col("r")).limit(10)
      low.join(ff.toDF("r1", "n_next"), col("r1") === col("r") + 1, "left")
        .select(col("r"), col("n_r"),
          round((col("r") + 1) * col("n_next") * lit(1.0) / col("n_r"), 4)
            .as("gt_r"))
        .orderBy(col("r"))
    })

  /** Repetition quality signals per document (the Gopher filters'
    * "duplicate n-gram fraction" and "top token fraction"): word
    * 3-grams come from one posexplode + two `lead` windows — NOT from
    * `transform(sequence, ...)` lambdas, which are interpreted AND
    * re-evaluate the split per element (the round-1 184 s shingling
    * trap). Two aggregates (per-token counts for the mode, per-gram
    * distinct for repetition) join on doc_id; each is a plain
    * shuffle-on-doc_id at any corpus size.
    */
  val q80RepetitionFilter = GraftQuery(
    "q80_repetition_filter",
    "per-doc duplicate-3-gram fraction + top-token fraction (Gopher-style)",
    Some("""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      w AS (SELECT doc_id, unnest(t) AS tok FROM toks),
      tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM w GROUP BY 1, 2),
      tstats AS (
        SELECT doc_id, MAX(c) AS maxc, CAST(SUM(c) AS BIGINT) AS nw
        FROM tc GROUP BY 1),
      g AS (
        SELECT doc_id, list_transform(range(len(t) - 2),
            i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) AS grams
        FROM toks WHERE len(t) >= 3),
      gstats AS (
        SELECT doc_id, len(grams) AS n3, len(list_distinct(grams)) AS d3
        FROM g)
      SELECT s.doc_id, s.nw,
        CAST(ROUND(CAST(CAST(1 - d3 * 1.0 / n3 AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS rep3_frac,
        CAST(ROUND(CAST(CAST(maxc * 1.0 / nw AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS top_tok_frac
      FROM tstats s JOIN gstats USING (doc_id) ORDER BY 1"""),
    (s, d) => {
      // Round-13: the gram leg reads the write-once ShingleLayout —
      // d3 (distinct 3-grams per doc) is exactly one row-count per
      // doc_id of the distinct shingle index, and n3 (gram positions)
      // is nw − 2 arithmetically (len(t) − 2 full windows per doc) —
      // so the second tokenize + two lead windows + countDistinct the
      // old plan ran per run disappear, along with the corpus-sized
      // checkpoint of the exploded token stream that fed both legs.
      // Docs under 3 tokens are absent from the layout, matching the
      // old inner join against the t2-filtered gram leg exactly.
      val tokStats = spread(documents(s, d)).select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(col("c")).as("maxc"), sum(col("c")).as("nw"))
      val gramStats = graft.sources.ShingleLayout.shingles(s, d)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("d3"))
      tokStats.join(gramStats, Seq("doc_id"))
        .select(col("doc_id"), col("nw"),
          round(lit(1) - col("d3") * lit(1.0) / (col("nw") - 2), 4)
            .as("rep3_frac"),
          round(col("maxc") * lit(1.0) / col("nw"), 4).as("top_tok_frac"))
        .orderBy(col("doc_id"))
    })

  /** Regex scrubbing (the PII-redaction shape — emails/phones in
    * production; the fixture corpus is synthetic word-salad, so the
    * pattern targets tokens that actually occur). Everything is
    * scan-stage regex expressions (codegen'd, no shuffle until the
    * tiny per-source rollup): hit counts via `regexp_count`, byte
    * shrinkage by diffing lengths after `regexp_replace`.
    */
  val q81Redaction = GraftQuery(
    "q81_redaction",
    "regex term-redaction counts + byte shrinkage per source",
    Some("""SELECT source,
        COUNT(*) AS n_docs,
        CAST(SUM(len(regexp_extract_all(text, '\b(spark|customer|vector)\b')) )
          AS BIGINT) AS n_hits,
        ROUND(AVG(len(regexp_extract_all(text, '\b(spark|customer|vector)\b')) ), 4)
          AS hits_per_doc,
        CAST(SUM(length(text) -
          length(regexp_replace(text, '\b(spark|customer|vector)\b', '[X]', 'g')))
          AS BIGINT) AS bytes_redacted
      FROM documents GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      val pat = "\\b(spark|customer|vector)\\b"
      documents(s, d)
        .select(col("source"),
          regexp_count(col("text"), lit(pat)).as("hits"),
          (length(col("text")) -
            length(regexp_replace(col("text"), pat, "[X]"))).as("shrink"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("hits")).as("n_hits"),
          round(avg(col("hits")), 4).as("hits_per_doc"),
          sum(col("shrink")).as("bytes_redacted"))
        .orderBy(col("source"))
    })

  /** Mergeable-sketch rollup: one HLL sketch PER DAY, then
    * `hll_union_agg` merges the day sketches into the month — the
    * incremental-pipeline contract at 100 TB (yesterday's sketches are
    * never recomputed; today's partition adds one). HLL union is
    * lossless at equal lgK, so the merged estimate EQUALS the
    * single-pass sketch estimate — asserted by CorpusSpec, shown here
    * next to the exact count. Rows-only: sketch estimates are
    * engine-specific.
    */
  val q82HllMerge = GraftQuery(
    "q82_hll_merge",
    "daily HLL user sketches merged to a month (== single-pass sketch)",
    None,
    (s, d) => {
      val ev = events(s, d).select(to_date(col("ts")).as("day"), col("user_id"))
      val daily = ev.groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val merged = daily.agg(
        count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_distinct"))
      val direct = ev.agg(
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("direct_distinct"),
        countDistinct(col("user_id")).as("exact_distinct"))
      merged.crossJoin(direct)
    })

  /** Benchmark decontamination: the fraction of each training doc's
    * distinct 3-gram shingles that appear anywhere in the "benchmark"
    * set (stand-in: every 20th doc — in production, the eval suites).
    * One shingle-level semi-join keyed on the shingle — at 100 TB the
    * benchmark shingle set is still the small side (benchmarks are
    * MBs, corpora are TBs), so this broadcasts or, beyond that, rides
    * the q74 Bloom-sketch pre-filter regime. Docs with ≥50% overlap
    * are flagged (the Lee et al. / GPT-3-style n-gram contamination
    * rule).
    */
  val q89Decontamination = GraftQuery(
    "q89_decontamination",
    "per-doc 3-gram overlap with a benchmark set + contamination flag",
    Some("""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
          i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS g
        FROM toks WHERE len(t) >= 3),
      ex AS (SELECT doc_id, unnest(g) AS s FROM sh),
      bench AS (SELECT DISTINCT s FROM ex WHERE doc_id % 20 = 0),
      corp AS (
        SELECT doc_id, COUNT(*) AS n_sh,
          CAST(SUM(CASE WHEN s IN (SELECT s FROM bench) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit
        FROM ex WHERE doc_id % 20 <> 0 GROUP BY 1)
      SELECT doc_id, CAST(n_sh AS BIGINT) AS n_sh, n_hit,
        CAST(ROUND(CAST(CAST(n_hit * 1.0 / n_sh AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS overlap_frac,
        CASE WHEN n_hit * 1.0 / n_sh >= 0.5 THEN 1 ELSE 0 END AS contaminated
      FROM corp ORDER BY doc_id"""),
    (s, d) => {
      // the shingle table feeds BOTH the benchmark set and the corpus
      // side — reading the write-once ShingleLayout twice costs two
      // cheap parquet scans instead of two explode+window derivations
      // (the localCheckpoint this replaced existed to avoid exactly
      // that double derivation)
      val sh = graft.sources.ShingleLayout.shingles(s, d)
        .select(col("doc_id"), col("sh"))
      // benchmark side at width/4: the bench set is small by definition
      // (production benchmarks are MBs; here every 20th doc), so a
      // full-session-width read of the wide shingle layout pays per-task
      // setup + a 32-way broadcast-distinct with no compute leg to
      // amortize it — the measured r9→r10 cost of the wide layout on
      // exactly this query. Proportional (not absolute) so the scan
      // still widens with the session at cluster scale. A/B at sf0.1,
      // min-of-8 back-to-back same window: 0.75 s full width → 0.61 s.
      val benchWidth = math.max(1,
        s.sessionState.conf.numShufflePartitions / 4)
      val bench = broadcast(sh.coalesce(benchWidth)
        .filter(col("doc_id") % 20 === 0)
        .select(col("sh")).distinct())
      val corp = sh.filter(col("doc_id") % 20 =!= 0)
      corp.join(bench.withColumn("hit", lit(1)), Seq("sh"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sh"), sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(col("doc_id"), col("n_sh"), col("n_hit"),
          round(col("n_hit") * lit(1.0) / col("n_sh"), 4).as("overlap_frac"),
          when(col("n_hit") * lit(1.0) / col("n_sh") >= 0.5, 1).otherwise(0)
            .as("contaminated"))
        .orderBy(col("doc_id"))
    })

  /** The end-to-end quality gate: every document classified by its
    * FIRST failing filter (length → repetition → stopword balance),
    * counts per (source, reason) — the funnel report a corpus curator
    * reads before emitting a training set. All signals reduce to two
    * aggregates over one exploded-token pass; thresholds sit at the
    * fixture's p80-p90 so every reason class is actually populated.
    */
  val q90QualityGate = GraftQuery(
    "q90_quality_gate",
    "first-failing-filter quality gate: (source, reason) funnel counts",
    Some("""WITH toks AS (
        SELECT doc_id, source,
          regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      w AS (SELECT doc_id, source, unnest(t) AS tok FROM toks),
      tc AS (SELECT doc_id, source, tok, COUNT(*) AS c FROM w GROUP BY 1, 2, 3),
      s AS (
        SELECT doc_id, source, CAST(SUM(c) AS BIGINT) AS n_tok,
          MAX(c) * 1.0 / SUM(c) AS top_frac,
          SUM(CASE WHEN tok IN ('the', 'a') THEN c ELSE 0 END) * 1.0 / SUM(c)
            AS stop_frac
        FROM tc GROUP BY 1, 2),
      g AS (
        SELECT source,
          CASE WHEN n_tok < 30 THEN 'too_short'
            WHEN n_tok > 95 THEN 'too_long'
            WHEN top_frac > 0.15 THEN 'repetitive'
            WHEN stop_frac > 0.12 THEN 'stopword_heavy'
            ELSE 'pass' END AS reason
        FROM s)
      SELECT source, reason, COUNT(*) AS n
      FROM g GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) =>
      // classification shared with the q284 pipeline's quality stage —
      // one source of truth for the filter chain and its thresholds
      graft.text.CorpusPipeline.withQualityReason(
          documents(s, d).select(col("doc_id"), col("source"), col("text")))
        .groupBy(col("source"), col("reason"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("source"), col("reason")))

  /** Approximate query processing from the deterministic hash sample
    * (q59's coin at 10%): the scaled sample estimate next to the exact
    * aggregate, with the realized relative error. The 100 TB story:
    * the sample scan costs 1/10th of the exact one and the hash coin
    * makes the estimate reproducible — rerun, retry, or another engine
    * lands on the SAME sample, which rand()-sampling cannot promise.
    * Oracle-checkable for exactly that reason.
    */
  val q99SampledEstimate = GraftQuery(
    "q99_sampled_estimate",
    "hash-sample (10%) scaled estimate vs exact aggregate + rel. error",
    Some("""WITH s AS (
        SELECT l_extendedprice FROM lineitem
        WHERE substr(md5('aqp' || CAST(l_orderkey AS VARCHAR) || '_' ||
          CAST(l_linenumber AS VARCHAR)), 1, 1) IN ('0', '1')),
      est AS (SELECT COUNT(*) * 8 AS n_est,
        ROUND(SUM(l_extendedprice) * 8, 2) AS sum_est FROM s),
      ex AS (SELECT COUNT(*) AS n_exact,
        ROUND(SUM(l_extendedprice), 2) AS sum_exact FROM lineitem)
      SELECT n_est, sum_est, n_exact, sum_exact,
        ROUND(ABS(sum_est - sum_exact) / sum_exact, 4) AS rel_err
      FROM est, ex"""),
    (s, d) => {
      val li = lineitem(s, d)
      // 2-of-16 hex prefixes = a 1/8 Bernoulli coin on the row key
      val coin = substring(md5(concat(lit("aqp"),
        col("l_orderkey").cast("string"), lit("_"),
        col("l_linenumber").cast("string"))), 1, 1)
      val est = li.filter(coin.isin("0", "1"))
        .agg((count(lit(1)) * 8).as("n_est"),
          round(sum(col("l_extendedprice")) * 8, 2).as("sum_est"))
      val exact = li.agg(count(lit(1)).as("n_exact"),
        round(sum(col("l_extendedprice")), 2).as("sum_exact"))
      est.crossJoin(exact)
        .withColumn("rel_err",
          round(abs(col("sum_est") - col("sum_exact")) / col("sum_exact"), 4))
    })

  /** Hopping (sliding) windows: `window(ts, '1 day', '6 hours')` puts
    * every event in its 4 overlapping day-windows inside one
    * aggregate — the batch form of the streaming sliding-window
    * rollup, no self-join against a window table. Oracle replicates
    * Spark's epoch-aligned starts: the k-th start is
    * floor(epoch/slide)·slide − k·slide.
    */
  val q100HoppingWindows = GraftQuery(
    "q100_hopping_windows",
    "1-day windows hopping every 6h via window(ts, dur, slide)",
    Some("""WITH w AS (
        SELECT CAST(floor(epoch(ts) / 21600) * 21600 - k * 21600 AS BIGINT)
            AS win_start, value
        FROM events, (SELECT unnest([0, 1, 2, 3]) AS k))
      SELECT win_start, COUNT(*) AS n, ROUND(SUM(value), 2) AS v
      FROM w GROUP BY 1 ORDER BY 1"""),
    (s, d) => events(s, d)
      .groupBy(window(col("ts"), "1 day", "6 hours").as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      .select(unix_timestamp(col("w.start")).as("win_start"), col("n"), col("v"))
      .orderBy(col("win_start")))

  /** ANN self-join: every embedding finds its approximate nearest
    * neighbor through the IVF cell index ([[graft.text.Ivf]]) — the
    * corpus↔corpus form of q30's query-set top-k. Cost is
    * O(n²·nProbe/nCells) pair evaluations instead of the brute-force
    * n², and the cell column lives in the table layout, so at 100 TB
    * the join is cell-partitioned (co-located) rather than all-pairs.
    * Rows-only (cell assignments are quantizer-seed-specific);
    * CorpusSpec measures recall against the exact top-1.
    */
  val q83AnnJoin = GraftQuery(
    "q83_ann_join",
    "IVF cell-join ANN: approximate nearest neighbor per embedding",
    None,
    (s, d) => {
      // index-as-storage (IvfLayout): the quantizer fits once per
      // corpus and q83/q143 both read the written cell assignment
      val (indexed, centroids) = graft.sources.IvfLayout.index(s, d)
      graft.text.Ivf
        .ivfCosineTopKOver(indexed, centroids, isQuery = lit(true),
          k = 1, nProbe = 4)
        .select(col("q_id"), col("vec_id").as("nn_id"), col("cos"))
        .orderBy(col("q_id"))
    })

  /** Product-quantization ANN, shortlist + re-rank form (rows-only:
    * codebooks come from seeded KMeans, so values are engine-specific;
    * PqSpec pins the ADC-distance identity and measures recall against
    * exact L2). dim=64 fixtures → m=8 subspaces of 16 codes: the
    * compressed scan reads 8 bytes/vector instead of 256, shortlists
    * 50 candidates/query, and re-ranks only those at full precision. */
  val q106PqAnn = GraftQuery(
    "q106_pq_ann",
    "product-quantization ANN: 8-byte ADC scan + exact re-rank top-5",
    None,
    (s, d) => graft.text.Pq
      .adcRerankTopK(embeddings(s, d), isQuery = col("vec_id") < 20,
        k = 5, m = 8)
      .orderBy(col("q_id"), col("rk")))

  /** Exact duplicated-SPAN detection over near-dup pairs (the
    * substring view of dedup): longest shared 3-gram run per pair via
    * diagonal islands — see [[graft.text.Dedup.sharedSpanPairs]]. The
    * oracle replays the identical diagonal/island derivation in SQL. */
  val q107DupSpans = GraftQuery(
    "q107_dup_spans",
    "longest shared token span per near-dup pair (diagonal islands)",
    Some("""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      dsh AS (
        SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
            i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
        FROM toks WHERE len(t) >= 3),
      ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh
        FROM dsh),
      cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
          MIN(a.n_sh) AS n_a, MIN(b.n_sh) AS n_b
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sel AS (SELECT doc_a, doc_b FROM cand
        WHERE inter * 1.0 / (n_a + n_b - inter) >= 0.4),
      possh AS (
        SELECT doc_id, i AS pos,
          t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS sh
        FROM toks, UNNEST(range(len(t) - 2)) AS u(i)
        WHERE len(t) >= 3),
      m AS (
        SELECT DISTINCT s.doc_a, s.doc_b, a.pos - b.pos AS diag,
          a.pos AS pa
        FROM sel s
        JOIN possh a ON a.doc_id = s.doc_a
        JOIN possh b ON b.doc_id = s.doc_b AND b.sh = a.sh),
      isl AS (
        SELECT doc_a, doc_b, diag,
          pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
            ORDER BY pa) AS grp
        FROM m),
      runs AS (SELECT doc_a, doc_b, COUNT(*) AS run
        FROM isl GROUP BY doc_a, doc_b, diag, grp)
      SELECT doc_a, doc_b, MAX(run) + 2 AS longest_span_tokens,
        COUNT(*) AS n_runs
      FROM runs GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) => graft.text.Dedup.sharedSpanPairs(documents(s, d), 0.4,
      pairTable = Some(graft.sources.PairsLayout.jaccardPairs(s, d, 0.4)))
      .orderBy(col("doc_a"), col("doc_b")))

  /** BPE tokenizer training on the corpus + re-encoding with the
    * learned merges (rows-only: the merge table is a learned artifact
    * with no SQL twin; BpeSpec pins the algorithm against the
    * textbook example and an independent reimplementation). Corpus
    * pass count: ONE distributed word count + ONE encode map — the
    * merge loop itself runs over the vocab-bounded frequency table. */
  val q128BpeTrain = GraftQuery(
    "q128_bpe_train",
    "train 40 BPE merges on the corpus, re-encode, report compression",
    None,
    (s, d) => {
      val docs = documents(s, d)
      val merges = graft.text.Bpe.learnMerges(
        graft.text.Bpe.wordCounts(docs), nMerges = 40)
      graft.text.Bpe.tokenCounts(docs, merges)
        .orderBy(col("doc_id"))
    })

  /** CCNet-style bigram-LM document scoring: train corpus-level bigram
    * counts in one shuffle, score every document by its add-k-smoothed
    * average negative log-likelihood in a second. The train artifact is
    * a distributed TABLE (not a collected model — contrast Bpe's
    * vocab-capped merge list): at 100 TB the bigram-count relation is
    * itself TB-scale, and the scoring join shuffles on the bigram key
    * like any fact-fact join, with AQE handling the head-word skew.
    * Within-doc repeats are pre-combined (doc, w1, w2, c) so the
    * scoring join moves distinct-bigram rows, not token occurrences —
    * the map-side-combine discipline of every aggregate here. The
    * DuckDB oracle replays the per-occurrence form; Σc·lp / Σc is the
    * same number (FP association noise ~1e-13, five orders below the
    * 1e-4 rounding).
    */
  val q162BigramLm = GraftQuery(
    "q162_bigram_lm_score",
    "bigram-LM avg negative log-likelihood per doc (CCNet-style filter)",
    Some("""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      bg AS (
        SELECT doc_id, unnest(list_transform(range(len(t) - 1),
            i -> t[i+1] || ' ' || t[i+2])) AS big
        FROM toks WHERE len(t) >= 2),
      cb AS (SELECT big, COUNT(*) AS cb FROM bg GROUP BY 1),
      cu AS (SELECT split_part(big, ' ', 1) AS w1, COUNT(*) AS cu
        FROM bg GROUP BY 1),
      v AS (SELECT COUNT(DISTINCT tok) AS v
        FROM (SELECT unnest(t) AS tok FROM toks)),
      sc AS (
        SELECT bg.doc_id,
          LN((cb.cb + 0.5) / (cu.cu + 0.5 * v.v)) AS lp
        FROM bg JOIN cb USING (big)
        JOIN cu ON split_part(bg.big, ' ', 1) = cu.w1
        CROSS JOIN v)
      SELECT doc_id, COUNT(*) AS n_bigrams, ROUND(-AVG(lp), 4) AS avg_nll
      FROM sc GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      // spread: the tokenize explosion is the pre-shuffle cost here
      val words = spread(documents(s, d)).select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+")).as(Seq("pos", "tok")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val bigrams = words
        .select(col("doc_id"), col("tok").as("w1"),
          lead(col("tok"), 1).over(w).as("w2"))
        .where(col("w2").isNotNull)
        .groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
        // three consumers below (cb, cu, the scoring join) — without
        // this the tokenize + per-doc window + combine re-run per
        // subtree (the q27/q89 re-execution lesson, q175's discipline)
        .localCheckpoint(false)
      val cb = bigrams.groupBy(col("w1"), col("w2"))
        .agg(sum(col("c")).as("cb"))
      val cu = bigrams.groupBy(col("w1")).agg(sum(col("c")).as("cu"))
      val vocab = words.agg(countDistinct(col("tok")).as("v"))
      bigrams
        .join(cb, Seq("w1", "w2"))
        .join(cu, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"), col("c"),
          log((col("cb") + 0.5) / (col("cu") + lit(0.5) * col("v"))).as("lp"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"),
          round(-(sum(col("c") * col("lp")) / sum(col("c"))), 4).as("avg_nll"))
        .orderBy(col("doc_id"))
    })

  /** Structured-PII scrub gate ([[graft.text.Pii]]): the fixture text
    * carries no PII, so the query PLANTS a deterministic contact tail
    * (email/phone/IP derived from doc_id + source — the q146-q150
    * multimodal-gate pattern: DuckDB replays the plant and the regex
    * analytics verbatim, so a pattern-semantics drift between the
    * engine and RE2 fails Verify, not just a spec). The operator
    * itself is generic: counts + redaction over any text column,
    * map-only in the scan stage.
    */
  val q163PiiRedact = GraftQuery(
    "q163_pii_redact",
    "plant + detect + redact structured PII per source (scrub gate)",
    Some("""WITH planted AS (
        SELECT doc_id, source,
          text || ' contact user' || doc_id || '@' || source ||
            '.net tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
            ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS txt
        FROM documents)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len(regexp_extract_all(txt,
          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))) AS BIGINT) AS emails,
        CAST(SUM(len(regexp_extract_all(txt,
          '\b555-[0-9]{4}\b'))) AS BIGINT) AS phones,
        CAST(SUM(len(regexp_extract_all(txt,
          '\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))) AS BIGINT) AS ips,
        CAST(SUM(length(txt) - length(
          regexp_replace(regexp_replace(regexp_replace(txt,
            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
            '\b555-[0-9]{4}\b', '[PHONE]', 'g'),
            '\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g')))
          AS BIGINT) AS chars_redacted
      FROM planted GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      import graft.text.Pii
      val planted = documents(s, d).select(col("source"),
        concat(col("text"), lit(" contact user"), col("doc_id"), lit("@"),
          col("source"), lit(".net tel 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" ip 10."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".0.1")).as("txt"))
      planted
        .select(col("source"),
          Pii.piiCount(col("txt"), "email").as("e"),
          Pii.piiCount(col("txt"), "phone").as("p"),
          Pii.piiCount(col("txt"), "ip").as("i"),
          (length(col("txt")) - length(Pii.redact(col("txt")))).as("shrink"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("e")).as("emails"),
          sum(col("p")).as("phones"), sum(col("i")).as("ips"),
          sum(col("shrink")).as("chars_redacted"))
        .orderBy(col("source"))
    })

  /** Heaps'-law vocabulary growth V(N) = K·N^β over the word-3-GRAM
    * vocabulary — the corpus statistic that says how much NEW content
    * further crawling buys (β near 0 means the corpus is saturating;
    * near 1 means every batch is novel). The unit is the 3-gram, not
    * the word, deliberately AND measurably: this fixture's word
    * vocabulary saturates at 31 types inside the first checkpoint
    * (β = 0, a vacuous fit — kept as the honest probe note), while
    * the 3-gram vocabulary grows 3 060 → 16 245 across checkpoints
    * with 58% hapax — the regime the statistic exists for; on a real
    * crawl the same query runs per-unit. Grams come from one
    * posexplode + two lead windows (the q80 gram discipline — never
    * transform-lambdas on the hot path). The growth curve is measured
    * at 8 doc-id THRESHOLD CHECKPOINTS, not by a global cumulative
    * window: each gram's first occurrence is min(doc_id) (one shuffle
    * on the gram), and V at a checkpoint is a count of first_doc ≤ t
    * — two broadcast-8-row fan-outs over the gram table and NO global
    * ordering anywhere, which is what survives a billion-doc corpus
    * (the q122 cumulative-distinct global window is exactly the shape
    * this avoids). The K/β fit is the closed-form log-log OLS of the
    * q184 Zipf precedent; hapax share rides along from the same table.
    */
  val q220HeapsLaw = GraftQuery(
    "q220_heaps_law",
    "Heaps-law 3-gram vocab growth at 8 doc checkpoints + log-log K/beta fit",
    Some("""WITH tk AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      toks AS (
        SELECT doc_id, unnest(list_transform(range(len(t) - 2),
          i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS tok
        FROM tk WHERE len(t) >= 3),
      ta AS (SELECT tok, MIN(doc_id) AS first_doc, COUNT(*) AS cnt
        FROM toks GROUP BY 1),
      dc AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY 1),
      mx AS (SELECT MAX(doc_id) AS m FROM documents),
      thr AS (SELECT i, CAST(floor(m * i / 8.0) AS BIGINT) AS t
        FROM mx, unnest(generate_series(1, 8)) AS u(i)),
      cum AS (SELECT thr.i, thr.t,
          CAST(SUM(CASE WHEN dc.doc_id <= thr.t THEN dc.n_tok ELSE 0 END)
            AS BIGINT) AS cum_tokens
        FROM thr, dc GROUP BY 1, 2),
      voc AS (SELECT thr.i,
          CAST(SUM(CASE WHEN ta.first_doc <= thr.t THEN 1 ELSE 0 END)
            AS BIGINT) AS vocab
        FROM thr, ta GROUP BY 1),
      pts AS (SELECT cum.i, cum.t, cum.cum_tokens, voc.vocab
        FROM cum JOIN voc USING (i)),
      fit AS (SELECT COUNT(*) AS n, SUM(ln(cum_tokens)) AS sx,
          SUM(ln(vocab)) AS sy,
          SUM(ln(cum_tokens) * ln(cum_tokens)) AS sxx,
          SUM(ln(cum_tokens) * ln(vocab)) AS sxy
        FROM pts),
      co AS (SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
          n, sx, sy FROM fit),
      kb AS (SELECT beta, exp((sy - beta * sx) / n) AS k FROM co),
      hap AS (SELECT SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) * 1.0
          / COUNT(*) AS hapax FROM ta)
      SELECT CAST(pts.i AS INTEGER) AS checkpoint, pts.t AS max_doc,
        pts.cum_tokens, pts.vocab,
        ROUND(kb.beta, 6) AS beta_hat, ROUND(kb.k, 6) AS k_hat,
        ROUND(hap.hapax, 6) AS hapax_share
      FROM pts, kb, hap ORDER BY 1"""),
    (s, d) => {
      val words = documents(s, d).select(col("doc_id"),
        posexplode(split(lower(trim(col("text"))), "\\s+"))
          .as(Seq("pos", "w")))
      val wl = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val toks = words
        .withColumn("w2", lead(col("w"), 1).over(wl))
        .withColumn("w3", lead(col("w"), 2).over(wl))
        .where(col("w3").isNotNull)
        .select(col("doc_id"),
          concat_ws(" ", col("w"), col("w2"), col("w3")).as("tok"))
        .localCheckpoint(false) // feeds the gram agg AND per-doc counts
      val ta = toks.groupBy(col("tok"))
        .agg(min(col("doc_id")).as("first_doc"), count(lit(1)).as("cnt"))
        .localCheckpoint(false) // feeds vocab checkpoints AND hapax
      val dc = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
      val thr = documents(s, d).agg(max(col("doc_id")).as("m"))
        .select(explode(sequence(lit(1), lit(8))).as("i"), col("m"))
        .select(col("i"),
          floor(col("m") * col("i") / 8.0).cast("long").as("t"))
      val cum = dc.crossJoin(broadcast(thr))
        .groupBy(col("i"), col("t"))
        .agg(sum(when(col("doc_id") <= col("t"), col("n_tok")).otherwise(0))
          .cast("bigint").as("cum_tokens"))
      val voc = ta.crossJoin(broadcast(thr))
        .groupBy(col("i"))
        .agg(sum(when(col("first_doc") <= col("t"), 1).otherwise(0))
          .cast("bigint").as("vocab"))
      val pts = cum.join(voc, Seq("i"))
        .localCheckpoint(false) // feeds the OLS fit AND the output rows
      val x = log(col("cum_tokens"))
      val y = log(col("vocab"))
      val fit = pts.agg(count(lit(1)).as("n"), sum(x).as("sx"),
        sum(y).as("sy"), sum(x * x).as("sxx"), sum(x * y).as("sxy"))
        .select(((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("beta"),
          col("n"), col("sx"), col("sy"))
        .select(col("beta"),
          exp((col("sy") - col("beta") * col("sx")) / col("n")).as("k"))
      val hap = ta.agg((sum(when(col("cnt") === 1, 1).otherwise(0)) /
        count(lit(1))).as("hapax"))
      pts.crossJoin(broadcast(fit)).crossJoin(broadcast(hap))
        .select(col("i").cast("int").as("checkpoint"),
          col("t").as("max_doc"), col("cum_tokens"), col("vocab"),
          round(col("beta"), 6).as("beta_hat"),
          round(col("k"), 6).as("k_hat"),
          round(col("hapax"), 6).as("hapax_share"))
        .orderBy(col("checkpoint"))
    })

  /** Quantile normalization of per-source length distributions — the
    * cross-source score harmonizer (one source's "long document" is
    * another's median; mixing decisions must compare LIKE QUANTILES,
    * the microarray-normalization trick applied to corpus curation).
    * Rows get a per-source decile (the window is source-partitioned —
    * bounded by the largest source, never global; ties broken by
    * doc_id so NTILE is engine-portable), each (source, decile) cell
    * reports its raw mean, and the normalized reference is the
    * across-source mean of like deciles — a 10-row broadcast.
    */
  val q221QuantileNorm = GraftQuery(
    "q221_quantile_norm",
    "per-source decile means quantile-normalized to the cross-source reference",
    Some("""WITH r AS (
        SELECT source, doc_id, n_chars,
          NTILE(10) OVER (PARTITION BY source
            ORDER BY n_chars, doc_id) AS dec
        FROM documents),
      g AS (SELECT source, dec, COUNT(*) AS n, AVG(n_chars) AS raw_mean
        FROM r GROUP BY 1, 2),
      ref AS (SELECT dec, AVG(raw_mean) AS norm_ref FROM g GROUP BY 1)
      SELECT g.source, CAST(g.dec AS INTEGER) AS decile,
        CAST(g.n AS BIGINT) AS n, ROUND(g.raw_mean, 4) AS raw_mean,
        ROUND(ref.norm_ref, 4) AS norm_ref,
        ROUND(ref.norm_ref - g.raw_mean, 4) AS shift
      FROM g JOIN ref USING (dec) ORDER BY 1, 2"""),
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
      val g = documents(s, d)
        .select(col("source"), col("n_chars"),
          ntile(10).over(w).as("dec"))
        .groupBy(col("source"), col("dec"))
        .agg(count(lit(1)).as("n"), avg(col("n_chars")).as("raw_mean"))
        .localCheckpoint(false) // feeds the reference AND the output
      val ref = g.groupBy(col("dec")).agg(avg(col("raw_mean")).as("norm_ref"))
      g.join(broadcast(ref), Seq("dec"))
        .select(col("source"), col("dec").cast("int").as("decile"),
          col("n").cast("long").as("n"),
          round(col("raw_mean"), 4).as("raw_mean"),
          round(col("norm_ref"), 4).as("norm_ref"),
          round(col("norm_ref") - col("raw_mean"), 4).as("shift"))
        .orderBy(col("source"), col("decile"))
    })

  /** Source stylometry: pairwise cosine similarity of per-source
    * character-3-gram count vectors — the character-level sibling of
    * q185's token-level JS divergence, and the standard authorship/
    * provenance fingerprint (char n-grams survive tokenizer and
    * vocabulary differences that token distributions don't). All
    * arithmetic is INTEGER until the final division: counts, dots,
    * and squared norms are exact in both engines, so the cosine is a
    * single identical double op — no accumulation-order exposure.
    *
    * Scale: grams shuffle once to per-(source, gram) counts; the
    * pair join is equi on gram with |sources|² output (a catalog
    * constant, 190 pairs at 20 sources); norms attach broadcast.
    */
  val q274Stylometry = GraftQuery(
    "q274_stylometry",
    "pairwise char-3gram cosine between sources (stylometric fingerprint)",
    Some("""WITH t AS (
        SELECT source, lower(trim(text)) AS t FROM documents),
      g AS (
        SELECT source, unnest(list_transform(range(1, length(t) - 1),
          i -> substring(t, CAST(i AS INTEGER), 3))) AS gram
        FROM t),
      c AS (SELECT source, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
      nrm AS (SELECT source, SUM(c * c) AS n2 FROM c GROUP BY 1),
      d AS (
        SELECT a.source AS src_a, b.source AS src_b,
          SUM(a.c * b.c) AS dot
        FROM c a JOIN c b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, CAST(dot AS BIGINT) AS dot,
        ROUND(dot / sqrt(na.n2 * nb.n2), 4) AS cos
      FROM d JOIN nrm na ON d.src_a = na.source
        JOIN nrm nb ON d.src_b = nb.source
      ORDER BY 1, 2"""),
    (s, d) => stylometry(documents(s, d)))

  /** The q274 pipeline — CorpusSpec pins identical sources at cos 1
    * and disjoint alphabets at absent (no shared gram → no row). */
  def stylometry(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // the lowered text is hoisted ONCE per row — recomputing
    // lower(trim(text)) inside the per-gram lambda is O(len²)/doc.
    // spread: the ~1000× char-3gram explosion below is the query's cost
    // and runs at the scan's parallelism (documents.parquet is one row
    // group → 1 partition), so without it one core shingles the corpus
    val g = spread(docs).select(col("source"), lower(trim(col("text"))).as("t"))
      .select(col("source"), explode(expr(
        """transform(sequence(1, length(t) - 2),
           i -> substring(t, i, 3))""")).as("gram"))
    val c = g.groupBy(col("source"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds norms AND the pair join
    val nrm = c.groupBy(col("source")).agg(sum(col("c") * col("c")).as("n2"))
    val d = c.as("a").join(c.as("b"),
        col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(col("a.c") * col("b.c")).as("dot"))
    d.join(broadcast(nrm.select(col("source").as("sa"), col("n2").as("na"))),
        col("src_a") === col("sa"))
      .join(broadcast(nrm.select(col("source").as("sb"), col("n2").as("nb"))),
        col("src_b") === col("sb"))
      .select(col("src_a"), col("src_b"), col("dot").cast("long").as("dot"),
        round(col("dot") / sqrt(col("na") * col("nb")), 4).as("cos"))
      .orderBy(col("src_a"), col("src_b"))
  }
}
