package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables._
import graft.text.{Components, Dedup, TextAnalysis => TA}

/** Round-4 curation wave: the two compositions that close the loop
  * between the pairwise/near-dup machinery and corpus emission —
  * semantic (embedding-space) dedup end-to-end, and per-source token
  * budgeting. Both follow the catalog's scale discipline: components
  * run in O(log n) star rounds, budgets are one window per source.
  */
object CurationQueries {

  def queries: Seq[GraftQuery] =
    Seq(q132SemanticDedup, q133TokenBudget, q134IncrementalAdmission,
      q135LmQualityFilter, q136Boilerplate, q139SourceOverlap, q140DedupYield,
      q144LshSemanticDedup, q281SourceAblation)

  /** Semantic dedup end-to-end: exact cosine near-dup pairs over the
    * embedding corpus (q46's ground truth) → connected components
    * ([[graft.text.Components]], large-star/small-star) → every vector
    * labeled with its dedup group and a keeper flag (min vec_id per
    * component). This is q68's text-space pipeline transplanted to
    * embedding space — the "semantic dedup" pass an LLM curation
    * pipeline runs AFTER lexical dedup to catch paraphrases that share
    * no n-grams. At 100 TB the pair source swaps to
    * [[graft.text.Dedup.embeddingDupPairsLsh]] (bucketed) with the
    * same downstream plan; the exact all-pairs form here is the
    * oracle-checkable ground truth, per the q26/q27 precedent. The
    * pairs are read from the write-once
    * [[graft.sources.EmbeddingPairsLayout]] (round-5 verdict #4) —
    * value-identical to the live derivation (CurationSpec pin); q46
    * keeps measuring the exact derivation itself.
    */
  val q132SemanticDedup = GraftQuery(
    "q132_semantic_dedup",
    "embedding near-dup pairs → components → per-vector dedup group + keeper",
    Some("""WITH RECURSIVE e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      dup AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
      edges AS (SELECT va AS s, vb AS d FROM dup
        UNION ALL SELECT vb, va FROM dup),
      walk(n, r) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT g.d, w.r FROM walk w JOIN edges g ON g.s = w.n),
      comp AS (SELECT n AS vec_id, MIN(r) AS component FROM walk GROUP BY 1)
      SELECT vec_id, component,
        CAST(CASE WHEN vec_id = component THEN 1 ELSE 0 END AS INTEGER)
          AS is_keeper
      FROM comp ORDER BY vec_id"""),
    (s, d) => semanticDedupFromComponents(embeddings(s, d),
      graft.sources.EmbeddingPairsLayout.exactComponents(s, d, 0.4)))

  /** The shared tail of q132/q144: a (vec_a, vec_b) near-dup pair
    * source through connected components into per-vector
    * (component, is_keeper). The pair SOURCE is the only difference
    * between the exact twin (all pairs) and the LSH-bucketed 100 TB
    * form. */
  def semanticDedup(emb: org.apache.spark.sql.DataFrame,
                    dupPairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pairs = dupPairs.select(col("vec_a").as("src"), col("vec_b").as("dst"))
    semanticDedupFromComponents(emb, Components.connectedComponents(pairs))
  }

  /** The keeper-labeling tail alone, over a prebuilt (node, component)
    * assignment — what the catalog queries run against the write-once
    * [[graft.sources.EmbeddingPairsLayout]] component tables (the
    * q56/ComponentLayout treatment: component ids are corpus metadata
    * written once per ingest wave; downstream passes read them). */
  def semanticDedupFromComponents(emb: org.apache.spark.sql.DataFrame,
                                  cc: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    emb.select(col("vec_id"))
      .join(cc.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .withColumn("is_keeper",
        (col("vec_id") === col("component")).cast("int"))
      .orderBy(col("vec_id"))

  /** q132's 100 TB form, EXECUTED (round-5 verdict item #1): the pair
    * source swaps from the O(n²) exact cosine join to the multi-table
    * sign-LSH bucketed join ([[graft.text.Dedup.embeddingDupPairsLsh]]
    * — candidates only meet inside a shared (table, bucket), exact
    * cosine verifies each candidate, O(Σ bucket²) total) and the
    * downstream components + keeper plan is IDENTICAL (same
    * [[semanticDedup]] call as the exact twin). VALUE-EXACT since
    * round 9: [[SignProjectionOracle]] replays the whole derivation —
    * splitmix plane matrix in HUGEINT mod-2⁶⁴, left-to-right
    * projection/cosine sums, the recursive components walk — so the
    * oracle checks q144's own algorithm rather than comparing against
    * the exact twin (the round-5 rejection measured recall vs q132,
    * which is the wrong question for an approximate operator's gate).
    * CurationSpec still pins ≥ 0.9 per-vector (component, is_keeper)
    * parity vs q132 on the planted-cluster fixture — that's the
    * recall property; the oracle is the correctness property.
    */
  val q144LshSemanticDedup = GraftQuery(
    "q144_lsh_semantic_dedup",
    "LSH-bucketed near-dup pairs → components → group + keeper (q132's 100 TB form)",
    Some(SignProjectionOracle.semanticDedupSql(0.4, dim = 64, tables = 8)),
    (s, d) => semanticDedupFromComponents(embeddings(s, d),
      graft.sources.EmbeddingPairsLayout.lshComponents(s, d, 0.4, dim = 64,
        // self-dispatching geometry (parquet-metadata count, no scan):
        // identical to the fixed 4-plane form at every fixture scale,
        // 2^⌊log2(n/100)⌋ buckets per table beyond it — see
        // Dedup.lshPlanesFor and the SCALING.md crossover table
        planes = Dedup.lshPlanesFor(rowCount(s, d, "embeddings")))))

  /** Cross-corpus LM quality scoring (the CCNet/KenLM pattern): train a
    * Laplace-smoothed unigram LM on a TRUSTED reference slice (every
    * 4th source — the "wikipedia" proxy), then score EVERY document's
    * mean negative log-likelihood under it, with OOV tokens counted
    * and smoothed to 1/(T+V). This differs from q71 (self-scored LM,
    * no smoothing needed) exactly where production differs: the scorer
    * and the scored corpus are different distributions, so unseen
    * tokens must cost probability mass, and a low score means "looks
    * like the reference", not "typical of itself". Plan: ONE tokenize
    * projection feeds both the reference counts and the scoring join
    * (map-side, nothing to checkpoint); the LM is a vocab-sized table
    * joined on term (broadcast when the vocab fits), the totals ride
    * as a broadcast 1-row aggregate.
    */
  val q135LmQualityFilter = GraftQuery(
    "q135_lm_quality_filter",
    "Laplace unigram LM trained on trusted sources scores all docs (+OOV)",
    Some("""WITH toks AS (
        SELECT doc_id, source,
          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        FROM documents),
      ref AS (
        SELECT term, COUNT(*) AS c FROM toks
        WHERE CAST(substr(source, 4) AS INT) % 4 = 0 GROUP BY 1),
      st AS (SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM ref) AS t,
                    (SELECT COUNT(*) FROM ref) AS v)
      SELECT k.doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN r.c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_oov,
        ROUND(-SUM(ln((COALESCE(r.c, 0) + 1.0) / (st.t + st.v)))
          / COUNT(*) + 1e-9, 4) AS nll
      FROM toks k LEFT JOIN ref r USING (term) CROSS JOIN st
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => lmScore(documents(s, d),
      isTrusted = substring(col("source"), 4, 10).cast("int") % 4 === 0)
      .orderBy(col("doc_id")))

  /** The q135 plan over any (doc_id, source, text) frame: Laplace
    * unigram NLL under the LM trained on `isTrusted` rows. Exposed so
    * CurationSpec can exercise the OOV smoothing path on crafted docs
    * (the fixture's sources share one vocabulary, so n_oov is 0
    * there). */
  def lmScore(docs: org.apache.spark.sql.DataFrame,
              isTrusted: org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
    val ref = toks.where(isTrusted)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val st = ref.agg(sum(col("c")).as("t"), count(lit(1)).as("v"))
    toks.join(ref, Seq("term"), "left_outer")
      .crossJoin(broadcast(st))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("c").isNull, 1).otherwise(0)).cast("long").as("n_oov"),
        round(-sum(log((coalesce(col("c"), lit(0)) + 1.0)
            / (col("t") + col("v")))) / count(lit(1)) + 1e-9, 4)
          .as("nll"))
  }

  /** Incremental corpus admission: dedup an INCOMING batch against the
    * EXISTING corpus — the operation a continuously-growing training
    * corpus runs on every ingest, where re-deduplicating the whole
    * corpus (q68) would be O(corpus) per batch. The probe is
    * one-directional ([[graft.text.Dedup.nearDupAgainst]]): incoming
    * shingles join the existing side's shingle table, so cost scales
    * with the batch; each incoming doc is admitted or rejected with
    * its best existing match. The batch split here is deterministic
    * (doc_id % 5) so both engines derive identical sides.
    */
  val q134IncrementalAdmission = GraftQuery(
    "q134_incremental_admission",
    "admit/reject an incoming batch against the existing corpus (best near-dup)",
    Some("""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
            i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
        FROM toks WHERE len(t) >= 3),
      ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh
        FROM sh),
      cand AS (
        SELECT i.doc_id, o.doc_id AS dup_of, COUNT(*) AS inter,
          MIN(i.n_sh) AS n_i, MIN(o.n_sh) AS n_e
        FROM ex i JOIN ex o ON i.sh = o.sh
        WHERE i.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
        GROUP BY 1, 2),
      flagged AS (
        SELECT doc_id, dup_of,
          CAST(ROUND(CAST(CAST(inter * 1.0 / (n_i + n_e - inter) AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS jaccard
        FROM cand WHERE inter * 1.0 / (n_i + n_e - inter) >= 0.4),
      best AS (
        SELECT doc_id, dup_of, jaccard, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY jaccard DESC, dup_of) AS rk
        FROM flagged)
      SELECT d.doc_id,
        CASE WHEN b.doc_id IS NULL THEN 'admit' ELSE 'reject' END AS status,
        b.dup_of, b.jaccard
      FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
      LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)
      ORDER BY d.doc_id"""),
    (s, d) => {
      val docs = documents(s, d)
      // Round-13: the incoming↔existing candidate pairs are exactly
      // the write-once [[graft.sources.PairsLayout]] rows (same 0.4
      // threshold, same shingle sets — Jaccard is symmetric and
      // shingling commutes with the per-doc %5 split) restricted to
      // pairs that CROSS the split, oriented incoming-first. Reading
      // them replaces a full shingle self-join per run — the
      // admission service consumes the pair table its dedup pipeline
      // already maintains (the q103/q107/q151 pattern); the best-match
      // aggregate below is byte-identical to Dedup.nearDupAgainst's.
      val pairs = graft.sources.PairsLayout.jaccardPairs(s, d, 0.4)
      val flagged = pairs
        .where((col("doc_a") % 5 === 0) =!= (col("doc_b") % 5 === 0))
        .select(
          when(col("doc_a") % 5 === 0, col("doc_a")).otherwise(col("doc_b"))
            .as("doc_id"),
          when(col("doc_a") % 5 === 0, col("doc_b")).otherwise(col("doc_a"))
            .as("dup_of"),
          col("jaccard"))
        .groupBy(col("doc_id"))
        .agg(max_by(struct(col("jaccard"), (-col("dup_of")).as("neg")),
          struct(col("jaccard"), (-col("dup_of")).as("neg"))).as("best"))
        .select(col("doc_id"), (-col("best.neg")).as("dup_of"),
          col("best.jaccard").as("jaccard"))
      docs.where(col("doc_id") % 5 === 0).select(col("doc_id"))
        .join(flagged, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          when(col("dup_of").isNull, "admit").otherwise("reject").as("status"),
          col("dup_of"), col("jaccard"))
        .orderBy(col("doc_id"))
    })

  /** Token budget per source for the sampler — fixture sources carry
    * ~1.1–1.7k tokens, so 600 genuinely cuts (~half of each source's
    * docs survive at every SF). */
  val SourceBudget = 600L

  /** Per-source token budgeting: draw documents in deterministic
    * hash order (md5 of doc_id — rerun-identical, no RNG state, the
    * q101 discipline) until each source's running token total reaches
    * its budget; a document is kept iff its FIRST token fits
    * (start-offset semantics, exactly q102's packing rule). This is
    * the "cap each domain's contribution" step of LLM data mixing —
    * q60/q101 cap by document COUNT or fraction, this caps by what
    * training actually consumes: tokens. One window per source = one
    * shuffle; a pathologically large source serializes into one task's
    * running sum, at which point shard it first like q102 packs
    * (hash-shard, budget/shards per shard).
    */
  val q133TokenBudget = GraftQuery(
    "q133_token_budget_sample",
    s"hash-ordered per-source sampling to a $SourceBudget-token budget",
    Some(s"""WITH t AS (
        SELECT doc_id, source,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
            AS tok,
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hk
        FROM documents),
      c AS (
        SELECT doc_id, source, tok,
          CAST(COALESCE(SUM(tok) OVER (PARTITION BY source
            ORDER BY hk, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS cum
        FROM t)
      SELECT source, doc_id, tok, cum
      FROM c WHERE cum < $SourceBudget ORDER BY source, doc_id"""),
    (s, d) => {
      val toks = documents(s, d).select(col("doc_id"), col("source"),
        TA.tokenCount(col("text")).cast("long").as("tok"),
        substring(md5(col("doc_id").cast("string")), 1, 8).as("hk"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("hk"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      toks
        .withColumn("cum", coalesce(sum(col("tok")).over(w), lit(0L)))
        .where(col("cum") < SourceBudget)
        .select(col("source"), col("doc_id"), col("tok"), col("cum"))
        .orderBy(col("source"), col("doc_id"))
    })

  /** Corpus-level boilerplate detection: a 3-gram is "boilerplate"
    * when it appears in ≥1% of DOCUMENTS (a corpus-relative cutoff —
    * the absolute count scales with the corpus, the fraction doesn't),
    * and each document is scored by the fraction of its 3-gram
    * POSITIONS covered by such grams — the nav-bar/footer/license-
    * blurb removal signal (per-doc repetition is q80, intra-corpus
    * duplicated SPANS are q107; this is the third axis: shared-
    * across-documents mass). Plan: one positional-shingle projection
    * feeds both the doc-frequency table (one shuffle) and the
    * coverage join (second shuffle on the gram); the corpus doc count
    * rides as a broadcast 1-row aggregate. At 100 TB the df table is
    * Zipf-shaped — only grams at df ≥ cutoff matter downstream, so
    * the join side can be pre-filtered to the (tiny) heavy tail,
    * which also makes it broadcastable.
    */
  val q136Boilerplate = GraftQuery(
    "q136_boilerplate_ngrams",
    "per-doc fraction of 3-gram positions covered by corpus boilerplate",
    Some("""WITH t AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        FROM documents),
      g AS (
        SELECT doc_id, unnest(list_transform(range(len(w) - 2),
            i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
        FROM t WHERE len(w) >= 3),
      df AS (SELECT sh, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY 1),
      nd AS (SELECT COUNT(*) AS n_docs FROM documents)
      SELECT g.doc_id, COUNT(*) AS n_grams,
        CAST(SUM(CASE WHEN df.df >= 0.01 * nd.n_docs THEN 1 ELSE 0 END)
          AS BIGINT) AS n_boiler,
        CAST(ROUND(CAST(CAST(SUM(CASE WHEN df.df >= 0.01 * nd.n_docs THEN 1 ELSE 0 END)
          * 1.0 / COUNT(*) AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS boiler_frac
      FROM g JOIN df USING (sh) CROSS JOIN nd
      GROUP BY 1 ORDER BY 1"""),
    (s, d) => {
      // grams ride as xxhash64 longs, not 3-word strings: the df agg
      // and the coverage probe never need the text back, and a 64-bit
      // collision over even billions of distinct grams is ~1e-9 —
      // the q27 banding precedent. Only the grams ABOVE the cutoff
      // (the Zipf heavy tail — tiny at any corpus size) join back,
      // and they join broadcast.
      //
      // Round-13 (guide §7.2 repeated subtrees / §2.3 aggregate before
      // the shuffle): the old plan derived `grams` TWICE — the df leg
      // (distinct + per-gram count) and the coverage probe each re-ran
      // the whole tokenize + posexplode + window shingle pass. Every
      // output number is a function of the per-(doc, gram) POSITION
      // COUNT alone, so fold the positional stream once to
      // (doc_id, g, m) — the same row count the old distinct shuffled,
      // now carrying the multiplicity — checkpoint that small frame,
      // and read both legs off it: df = one row per (doc, g) by
      // construction, coverage = Σm (weighted by the heavy flag).
      // One corpus tokenize instead of two; identical integers.
      val gc = Dedup.positionalShingles(documents(s, d))
        .select(col("doc_id"), xxhash64(col("sh")).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("m"))
        .localCheckpoint(false) // feeds the df leg AND the coverage probe
      val df = gc.groupBy(col("g")).agg(count(lit(1)).as("df"))
      val nd = documents(s, d).agg(count(lit(1)).as("n_docs"))
      val heavy = df.crossJoin(broadcast(nd))
        .where(col("df") >= lit(0.01) * col("n_docs"))
        .select(col("g"), lit(1).as("hit"))
      gc.join(broadcast(heavy), Seq("g"), "left_outer")
        .groupBy(col("doc_id"))
        // coalesce keeps n_grams non-nullable like the count() it
        // replaces (schema-identical dump); a group always has rows
        .agg(coalesce(sum(col("m")), lit(0L)).as("n_grams"),
          sum(when(col("hit") === 1, col("m")).otherwise(0L)).cast("long")
            .as("n_boiler"),
          round(sum(when(col("hit") === 1, col("m")).otherwise(0L)) * lit(1.0)
            / sum(col("m")), 4).as("boiler_frac"))
        .orderBy(col("doc_id"))
    })

  /** Cross-source contamination matrix: 3-gram Jaccard overlap for
    * every source pair — the train/eval-overlap diagnostic at the
    * SOURCE level (q89 decontaminates docs against one benchmark;
    * this measures all-pairs bleed between corpus slices, the number
    * a mixture designer reads before trusting a held-out source).
    * Plan: per-source DISTINCT gram sets (one shuffle), then a
    * self-join on the gram — fan-out per gram is bounded by the
    * number of SOURCES carrying it (≤ S, and S is small even at
    * 100 TB: sources are domains, not rows), so the pair aggregate
    * is O(grams · S²) worst case with tiny S, never O(rows²).
    */
  val q139SourceOverlap = GraftQuery(
    "q139_source_overlap",
    "pairwise 3-gram Jaccard overlap matrix across sources",
    Some("""WITH t AS (
        SELECT doc_id, source,
          regexp_split_to_array(lower(trim(text)), '\s+') AS w
        FROM documents),
      g AS (
        SELECT DISTINCT source, unnest(list_transform(range(len(w) - 2),
            i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh
        FROM t WHERE len(w) >= 3),
      n AS (SELECT source, COUNT(*) AS n FROM g GROUP BY 1),
      i AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
        FROM g a JOIN g b ON a.sh = b.sh AND a.source < b.source
        GROUP BY 1, 2)
      SELECT i.src_a, i.src_b, i.inter,
        CAST(ROUND(CAST(CAST(i.inter * 1.0 / (na.n + nb.n - i.inter) AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS jaccard
      FROM i JOIN n na ON na.source = i.src_a
        JOIN n nb ON nb.source = i.src_b
      ORDER BY src_a, src_b"""),
    (s, d) => {
      // same hashed-gram discipline as q136: sets and intersections
      // only ever compare grams for equality, so the 64-bit key
      // replaces the 3-word string through both shuffles.
      //
      // Round-12 rewrite (guide §2.3/§2.4 — shuffle metadata, not
      // payloads; remove the self-join outright): the old form derived
      // `g` THREE times (the per-source size aggregate + both sides of
      // a gram self-join, ~16 scans / 48 exchanges in the plan) and the
      // self-join shuffled the whole vocabulary twice. Every number in
      // the output is a function of each gram's SOURCE SET alone, and
      // the distinct sets number ≤ 2^|sources| (sources are domains,
      // not rows) — so fold the vocabulary to a source-set histogram
      // once, checkpoint the ≤2^S-row result, and read both the sizes
      // (n_src = Σ cnt over sets containing it) and every pairwise
      // intersection (Σ cnt over sets containing both) out of it. One
      // corpus tokenize instead of three; zero vocabulary self-joins;
      // identical rows (the join's pair multiset is exactly
      // Σ_g pairs(sources(g)), which is what the weighted explode
      // counts). 1.22 → ~0.6 s at sf0.1; at 100 TB the only corpus
      // pass is the tokenize and nothing vocabulary-sized is ever
      // shuffled twice.
      val docs = documents(s, d)
      // tiny source dimension with a deterministic bit index (sources
      // sorted ascending, so idx order == string order and ia < ib ⟺
      // src_a < src_b — the old join's dedup order preserved exactly).
      // The set encoding is a LONG BITMASK, not a collected array: the
      // first cut used groupBy(sh).collect_list(source), whose
      // object-hash aggregate over the gram vocabulary measured ~1.9×
      // the old self-join at sf0.1 — the mask form keeps the whole
      // fold in codegen'd long arithmetic. 63 sources bound the mask;
      // at a scale that exceeds it, chunk the mask into an array of
      // longs (same algebra per 63-source block).
      val srcs = docs.select(col("source")).distinct()
        .withColumn("idx",
          (row_number().over(Window.orderBy(col("source"))) - 1)
            .cast("int"))
        .localCheckpoint(false) // |sources| rows; bit dim + require below
      require(srcs.count() <= 63,
        "q139 bitmask source-set encoding needs <= 63 sources; " +
          "chunk the mask into an array of longs past that")
      val g = Dedup.positionalShingles(docs)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), xxhash64(col("sh")).as("sh")).distinct()
      val sets = g.join(broadcast(srcs), Seq("source"))
        .groupBy(col("sh"))
        .agg(sum(expr("shiftleft(1L, idx)")).as("mask"))
        .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(false) // ≤ 2^|sources| rows; feeds n AND inter
      val n = sets.join(broadcast(srcs),
          expr("((mask >> idx) & 1) = 1"))
        .groupBy(col("source")).agg(sum(col("cnt")).as("n"))
      val pairDim = srcs.select(col("source").as("src_a"), col("idx").as("ia"))
        .crossJoin(srcs.select(col("source").as("src_b"), col("idx").as("ib")))
        .where(col("ia") < col("ib"))
      val inter = sets.join(broadcast(pairDim),
          expr("((mask >> ia) & 1) = 1 AND ((mask >> ib) & 1) = 1"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(sum(col("cnt")).as("inter"))
      inter
        .join(broadcast(n.withColumnRenamed("source", "src_a")
          .withColumnRenamed("n", "n_a")), Seq("src_a"))
        .join(broadcast(n.withColumnRenamed("source", "src_b")
          .withColumnRenamed("n", "n_b")), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("inter"),
          round(col("inter") * lit(1.0)
            / (col("n_a") + col("n_b") - col("inter")), 4).as("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    })

  /** Dedup yield report: the component-size histogram with token
    * accounting — for each near-dup cluster size, how many clusters,
    * how many documents they hold, their total token mass, and the
    * tokens the keeper rule (q68: longest doc, ties → min id) would
    * drop. This is the "what did dedup buy us" summary a curation
    * run publishes next to its output corpus; the size histogram is
    * also the skew early-warning (one giant component means a
    * boilerplate family, not real duplication). Cost over q56/q68 is
    * one window + two aggregates over the (tiny) per-component table.
    */
  val q140DedupYield = GraftQuery(
    "q140_dedup_yield",
    "dedup component-size histogram with kept/dropped token accounting",
    Some(s"""WITH RECURSIVE ${PipelineQueries.pairsCtes(0.4)},
      edges AS (
        SELECT doc_a AS s, doc_b AS d FROM dup
        UNION ALL SELECT doc_b, doc_a FROM dup),
      walk(n, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, w.r FROM walk w JOIN edges e ON e.s = w.n),
      comp AS (SELECT n AS doc_id, MIN(r) AS component FROM walk GROUP BY 1),
      m AS (
        SELECT c.doc_id, c.component, len(t.t) AS tok, d.n_chars
        FROM comp c JOIN toks t USING (doc_id)
          JOIN documents d USING (doc_id)),
      rk AS (
        SELECT component, tok, ROW_NUMBER() OVER (PARTITION BY component
          ORDER BY n_chars DESC, doc_id) AS rn FROM m),
      cs AS (
        SELECT component, COUNT(*) AS sz, SUM(tok) AS toks,
          SUM(CASE WHEN rn > 1 THEN tok ELSE 0 END) AS dropped
        FROM rk GROUP BY 1)
      SELECT CAST(sz AS BIGINT) AS comp_size, COUNT(*) AS n_components,
        CAST(COUNT(*) * sz AS BIGINT) AS n_docs,
        CAST(SUM(toks) AS BIGINT) AS tokens,
        CAST(SUM(dropped) AS BIGINT) AS tokens_dropped
      FROM cs GROUP BY sz ORDER BY comp_size"""),
    (s, d) => {
      val docs = documents(s, d)
      val m = graft.sources.ComponentLayout.dedupComponents(s, d, 0.4)
        .join(docs.select(col("doc_id"),
          TA.tokenCount(col("text")).cast("long").as("tok"),
          col("n_chars")), Seq("doc_id"))
      val byComp = Window.partitionBy(col("component"))
      val cs = m
        .withColumn("rn", row_number().over(
          byComp.orderBy(col("n_chars").desc, col("doc_id"))))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("sz"), sum(col("tok")).as("toks"),
          sum(when(col("rn") > 1, col("tok")).otherwise(0L)).as("dropped"))
      cs.groupBy(col("sz").as("comp_size"))
        .agg(count(lit(1)).as("n_components"),
          sum(col("toks")).as("tokens"),
          sum(col("dropped")).as("tokens_dropped"))
        .select(col("comp_size"), col("n_components"),
          (col("n_components") * col("comp_size")).as("n_docs"),
          col("tokens"), col("tokens_dropped"))
        .orderBy(col("comp_size"))
    })

  /** Leave-one-source-out data valuation — "which source should we
    * drop first": for every source, the corpus mean quality (q23's
    * score) and exact-dup rate (q25's hash groups) the corpus would
    * have WITHOUT that source, computed in closed form from
    * decomposed sums — no 20 rescans. Quality decomposes as
    * (Q − q_s)/(N − n_s); the dup rate decomposes through the
    * per-(hash, source) count table: removing s turns a hash group
    * of size g into g − c_{h,s}, contributing max(0, g − c_{h,s} − 1)
    * redundant docs. A POSITIVE quality delta / NEGATIVE dup delta
    * says the source is below corpus average — the drop candidate.
    *
    * Scale: one quality moment pass, one hash group-by; the ablation
    * grid is hash-groups × broadcast source list (≤ |sources|×
    * |groups| rows, a 20× bounded fan-out of an already-reduced
    * table).
    */
  val q281SourceAblation = GraftQuery(
    "q281_source_ablation",
    "leave-one-source-out corpus quality + exact-dup-rate deltas per source",
    Some("""WITH q AS (
        SELECT source,
          len(regexp_split_to_array(lower(trim(text)), '\s+')) AS ntok,
          len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
            t -> t IN ('the', 'and', 'of', 'to', 'a', 'in', 'is', 'it',
              'for', 'on'))) AS nstop,
          length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0
            / length(text) AS pr,
          md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        FROM documents),
      d AS (
        SELECT source, h,
          least(ntok * 1.0 / 100.0, 1.0) * 0.3
            + (nstop * 1.0 / ntok) * 0.4 + (1.0 - pr) * 0.3 AS qual
        FROM q),
      tot AS (
        SELECT COUNT(*) * 1.0 AS n, SUM(qual) AS sq FROM d),
      per AS (
        SELECT source, COUNT(*) * 1.0 AS ns, SUM(qual) AS qs
        FROM d GROUP BY 1),
      hs AS (SELECT h, source, COUNT(*) AS c FROM d GROUP BY 1, 2),
      hg AS (SELECT h, SUM(c) AS g FROM hs GROUP BY 1),
      dupfull AS (SELECT SUM(g - 1) * 1.0 AS dups FROM hg),
      abl AS (
        SELECT per.source,
          SUM(GREATEST(hg.g - COALESCE(hs.c, 0) - 1, 0)) AS dups_loo
        FROM per CROSS JOIN hg
        LEFT JOIN hs ON hs.h = hg.h AND hs.source = per.source
        GROUP BY 1)
      SELECT per.source, CAST(ns AS BIGINT) AS n_docs,
        ROUND(sq / n, 6) AS full_quality,
        ROUND((sq - qs) / (n - ns), 6) AS loo_quality,
        ROUND((sq - qs) / (n - ns) - sq / n, 6) AS quality_delta,
        ROUND(dups / n, 6) AS full_dup_rate,
        ROUND(dups_loo / (n - ns), 6) AS loo_dup_rate,
        ROUND(dups_loo / (n - ns) - dups / n, 6) AS dup_delta
      FROM per CROSS JOIN tot CROSS JOIN dupfull
      JOIN abl ON per.source = abl.source
      ORDER BY 1"""),
    (s, d) => sourceAblation(documents(s, d)))

  /** The q281 pipeline — CurationSpec plants a junk source (short,
    * stopword-free, heavily duplicated) and pins that dropping it
    * improves both readouts while a clean source's deltas invert. */
  def sourceAblation(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val d = docs.select(col("source"),
        TA.qualityScore(col("text")).as("qual"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))
      .localCheckpoint(false) // feeds totals, per-source, and hash counts
    val tot = d.agg((count(lit(1)) * lit(1.0)).as("n"),
      sum(col("qual")).as("sq"))
    val per = d.groupBy(col("source"))
      .agg((count(lit(1)) * lit(1.0)).as("ns"), sum(col("qual")).as("qs"))
    val hs = d.groupBy(col("h"), col("source")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false) // feeds group sizes AND the ablation grid
    val hg = hs.groupBy(col("h")).agg(sum(col("c")).as("g"))
    val dupfull = hg.agg((sum(col("g") - 1) * lit(1.0)).as("dups"))
    val hs2 = hs.select(col("h").as("h2"), col("source").as("src2"),
      col("c"))
    val abl = broadcast(per.select(col("source").as("asrc")))
      .crossJoin(hg)
      .join(hs2, col("h") === col("h2") && col("asrc") === col("src2"),
        "left")
      .groupBy(col("asrc"))
      .agg(sum(greatest(col("g") - coalesce(col("c"), lit(0L)) - 1,
        lit(0L))).as("dups_loo"))
    per.crossJoin(broadcast(tot)).crossJoin(broadcast(dupfull))
      .join(abl, col("source") === col("asrc"))
      .select(col("source"), col("ns").cast("long").as("n_docs"),
        round(col("sq") / col("n"), 6).as("full_quality"),
        round((col("sq") - col("qs")) / (col("n") - col("ns")), 6)
          .as("loo_quality"),
        round((col("sq") - col("qs")) / (col("n") - col("ns"))
          - col("sq") / col("n"), 6).as("quality_delta"),
        round(col("dups") / col("n"), 6).as("full_dup_rate"),
        round(col("dups_loo") / (col("n") - col("ns")), 6)
          .as("loo_dup_rate"),
        round(col("dups_loo") / (col("n") - col("ns"))
          - col("dups") / col("n"), 6).as("dup_delta"))
      .orderBy(col("source"))
  }
}
