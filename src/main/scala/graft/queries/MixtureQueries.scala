package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables._

/** Training-data curation wave two: deterministic mixture sampling and
  * sequence packing — the two ops that sit between a deduplicated corpus
  * (q68) and the training-shard writer (`etl.Ingest.writeTrainingShards`).
  *
  * Both are built from the same scale discipline as the rest of the
  * catalog: the sampler is a pure map-side filter (zero shuffles before
  * the output sort — rerun-identical on any cluster size), and packing is
  * shard-parallel (one window per shard, never a global cumulative sum).
  */
object MixtureQueries {

  def queries: Seq[GraftQuery] = Seq(q101MixtureSample, q102SeqPacking,
    q120WeightedSample, q180TemperatureMix, q182SpanCorruption,
    q267UcbMixture)

  /** Span-corruption accounting (the T5 denoising-objective prep):
    * deterministic mask-span starts (pure integer hash of
    * (doc_id, pos) — no RNG, rerun-identical on any cluster),
    * fixed raw span length 3 clipped at the doc end, OVERLAPPING
    * spans merged by the classic gaps-and-islands sweep (per-doc
    * window — the same interval-union shape as the ExactSubstr
    * family, never a global window), then per-doc: merged span
    * count, masked-token mass, corruption rate, and the
    * sentinel-adjusted encoder/decoder lengths (input = kept +
    * one sentinel per span; target = masked + sentinels + EOS).
    * Docs drawing no spans survive with zeros via the left join —
    * the length accounting a packing stage (q102) consumes.
    */
  val q182SpanCorruption = GraftQuery(
    "q182_span_corruption",
    "T5-style deterministic span-corruption mass + seq-length accounting",
    Some("""WITH toks AS (
        SELECT doc_id, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n
        FROM documents),
      pos AS (SELECT doc_id, n, unnest(range(n)) AS p FROM toks),
      st AS (
        SELECT doc_id, n, p AS s, LEAST(p + 3, n) AS e
        FROM pos WHERE (doc_id * 1000003 + p * 7919) % 20 = 0),
      g AS (
        SELECT doc_id, n, s, e,
          MAX(e) OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM st),
      g2 AS (
        SELECT doc_id, n, s, e,
          SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        FROM g),
      isl AS (SELECT doc_id, gid, MIN(s) AS ms, MAX(e) AS me
              FROM g2 GROUP BY 1, 2),
      agg AS (SELECT doc_id, COUNT(*) AS n_spans,
              CAST(SUM(me - ms) AS BIGINT) AS n_masked
              FROM isl GROUP BY 1)
      SELECT t.doc_id, t.n AS n_toks,
        CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
        CAST(COALESCE(a.n_masked, 0) AS BIGINT) AS n_masked,
        ROUND(COALESCE(a.n_masked, 0) / (t.n * 1.0), 4) AS corruption,
        CAST(t.n - COALESCE(a.n_masked, 0) + COALESCE(a.n_spans, 0) AS BIGINT)
          AS input_len,
        CAST(COALESCE(a.n_masked, 0) + COALESCE(a.n_spans, 0) + 1 AS BIGINT)
          AS target_len
      FROM toks t LEFT JOIN agg a USING (doc_id) ORDER BY 1"""),
    (s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).as("n"))
      val starts = toks
        .select(col("doc_id"), col("n"),
          explode(sequence(lit(0), col("n") - 1)).as("p"))
        .where(pmod(col("doc_id") * 1000003L + col("p") * 7919L, lit(20L)) === 0)
        .select(col("doc_id"), col("p").as("s"),
          least(col("p") + 3, col("n")).as("e"))
      val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy(col("doc_id")).orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isl = starts
        .withColumn("pm", max(col("e")).over(wPrev))
        .withColumn("gid", sum(
          (col("pm").isNull || col("s") > col("pm")).cast("int")).over(wRun))
        .groupBy(col("doc_id"), col("gid"))
        .agg(min(col("s")).as("ms"), max(col("e")).as("me"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"), sum(col("me") - col("ms")).as("n_masked"))
      val sp = coalesce(col("n_spans"), lit(0L))
      val mk = coalesce(col("n_masked"), lit(0L))
      toks.join(isl, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n").as("n_toks"),
          sp.as("n_spans"), mk.as("n_masked"),
          round(mk / (col("n") * lit(1.0)), 4).as("corruption"),
          (col("n") - mk + sp).cast("long").as("input_len"),
          (mk + sp + 1).cast("long").as("target_len"))
        .orderBy(col("doc_id"))
    })

  /** Temperature-scaled mixture weights (the multilingual/multi-source
    * sampling scheme of the big LM corpora: w_s ∝ p_s^α, α = 0.7):
    * per-source token mass → raw share → tempered, renormalized
    * sampling weight → effective epochs at a token budget of half the
    * corpus. Three tiny aggregates (per-source rollup + two broadcast
    * scalars); the only FP surface is POWER and the 20-row
    * normalization sum, both rounded well above ulp noise. At 100 TB
    * the per-source rollup is the one shuffle and the weight table
    * stays |sources| rows — the artifact a weighted sampler (q120)
    * then consumes.
    */
  val q180TemperatureMix = GraftQuery(
    "q180_temperature_mix",
    "per-source temperature-scaled (alpha=0.7) sampling weights + epochs",
    Some("""WITH toks AS (
        SELECT source, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS nt
        FROM documents),
      s AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tokens
            FROM toks GROUP BY 1),
      t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM s),
      w AS (SELECT source, n_tokens, total,
          n_tokens / (total * 1.0) AS p_raw,
          POWER(n_tokens / (total * 1.0), 0.7) AS pw
        FROM s CROSS JOIN t),
      z AS (SELECT SUM(pw) AS zz FROM w)
      SELECT source, n_tokens, ROUND(p_raw, 6) AS p_raw,
        ROUND(pw / zz, 6) AS w,
        ROUND((pw / zz) * (total * 0.5) / n_tokens, 4) AS epochs
      FROM w CROSS JOIN z ORDER BY 1"""),
    (s, d) => {
      val perSrc = documents(s, d)
        .select(col("source"),
          size(split(lower(trim(col("text"))), "\\s+")).as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      val t = perSrc.agg(sum(col("n_tokens")).as("total"))
      val w = perSrc.crossJoin(broadcast(t))
        .withColumn("p_raw", col("n_tokens") / (col("total") * lit(1.0)))
        .withColumn("pw", pow(col("p_raw"), lit(0.7)))
      val z = w.agg(sum(col("pw")).as("zz"))
      w.crossJoin(broadcast(z))
        .select(col("source"), col("n_tokens"),
          round(col("p_raw"), 6).as("p_raw"),
          round(col("pw") / col("zz"), 6).as("w"),
          round((col("pw") / col("zz")) * (col("total") * lit(0.5))
            / col("n_tokens"), 4).as("epochs"))
        .orderBy(col("source"))
    })

  /** Deterministic stratified mixture sampling (data mixing): each
    * source keeps a target fraction of its documents, membership
    * decided by an md5 prefix of the doc id — no RNG state, so the
    * draw is rerun-identical, join-free, and embarrassingly parallel.
    * The cutoff is a 4-hex-digit string: `bucket < cutoff` keeps
    * exactly `cutoff/0x10000` of a uniform hash space ('g' sorts
    * after every hex digit, i.e. keep-all). Mixture weights cycle
    * 1 / 0.5 / 0.25 / 0.125 by source index — the "upsample wiki,
    * downsample crawl" shape of LLM data mixing.
    *
    * At 100 TB this is the only sound way to draw a mixture: a
    * `rand()`-based sample is neither rerun-stable nor resumable,
    * while a hash draw re-derives the identical subset on any
    * executor count, and composes with [[graft.etl.Ingest.hashSplit]]
    * (train/test) because the two use independent hash functions.
    */
  val q101MixtureSample = GraftQuery(
    "q101_mixture_sample",
    "deterministic md5-bucket stratified sampling to mixture weights",
    Some("""WITH s AS (
        SELECT doc_id, source,
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket,
          CASE CAST(substr(source, 4) AS INT) % 4
            WHEN 0 THEN 'g' WHEN 1 THEN '8000'
            WHEN 2 THEN '4000' ELSE '2000' END AS cutoff
        FROM documents)
      SELECT doc_id, source, bucket FROM s
      WHERE bucket < cutoff ORDER BY doc_id"""),
    (s, d) => {
      val idx = substring(col("source"), 4, 10).cast("int") % 4
      val cutoff = when(idx === 0, lit("g"))
        .when(idx === 1, lit("8000"))
        .when(idx === 2, lit("4000"))
        .otherwise(lit("2000"))
      documents(s, d)
        .select(col("doc_id"), col("source"),
          substring(md5(col("doc_id").cast("string")), 1, 4).as("bucket"),
          cutoff.as("cutoff"))
        .where(col("bucket") < col("cutoff"))
        .select(col("doc_id"), col("source"), col("bucket"))
        .orderBy(col("doc_id"))
    })

  /** Token budget per packed sequence (tokens, not bytes). Owned by
    * [[graft.text.CorpusPipeline]] since the packing stage joined the
    * end-to-end curation composition (q284). */
  val PackBudget: Long = graft.text.CorpusPipeline.PackBudget
  /** Shard count for the packing demo — at cluster scale this is
    * O(executors), not 8; the property is shard-independence. */
  val PackShards: Long = graft.text.CorpusPipeline.PackShards

  /** Sequence packing: concatenate documents into fixed token-budget
    * training sequences. True first-fit bin packing is inherently
    * sequential, so the distributable form is start-offset packing
    * within hash shards: docs are laid end-to-end in deterministic
    * doc_id order per shard, and a doc belongs to the bin where its
    * first token lands (`floor(preceding_tokens / budget)`). One
    * window per shard — the shards are the parallelism, so 100 TB
    * packs as N independent linear scans with a single shuffle on
    * the shard key, and a rerun (or a re-pack after upstream dedup)
    * reproduces byte-identical sequence boundaries.
    */
  val q102SeqPacking = GraftQuery(
    "q102_seq_packing",
    "shard-parallel start-offset sequence packing to a 2048-token budget",
    Some(s"""WITH t AS (
        SELECT doc_id, doc_id % $PackShards AS shard,
          CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
            AS tok
        FROM documents),
      c AS (
        SELECT shard, doc_id, tok,
          COALESCE(SUM(tok) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM t)
      SELECT shard, CAST(FLOOR(cum / $PackBudget) AS BIGINT) AS bin,
        COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS tokens
      FROM c GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) => packedBins(documents(s, d)))

  /** The packing plan over any (doc_id, text) frame — reused by
    * MixtureSpec for the budget/contiguity properties. Implementation
    * moved to [[graft.text.CorpusPipeline.packedBins]] (the pipeline's
    * final stage must be THIS plan, not a copy — the FlagshipPipeline
    * stage-sharing precedent). */
  def packedBins(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.text.CorpusPipeline.packedBins(docs)

  /** Deterministic weighted sampling WITHOUT replacement, top-k per
    * stratum — Efraimidis–Spirakis A-ES keys with hash-derived
    * uniforms: key = ln(u) / w for u = (md5₃₂(doc_id)+1)/2³², so
    * selection probability is proportional to weight (n_chars here —
    * "prefer longer documents"), yet the draw has no RNG state: the
    * same top-k re-derives on any cluster, and adding documents never
    * reshuffles the keys of existing ones (stable under corpus
    * growth — a resumable curation pass). Plan: scan-side key
    * computation + one per-source window rank; ranking uses the
    * ROUNDED key (8 dp) so libm ulp differences between engines can't
    * reorder near-ties (doc_id breaks exact ties).
    */
  val q120WeightedSample = GraftQuery(
    "q120_weighted_sample",
    "Efraimidis-Spirakis weighted top-3 per source, hash-derived uniforms",
    Some("""WITH s AS (
        SELECT doc_id, source, n_chars,
          (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
            AS UBIGINT) + 1) / 4294967296.0 AS u
        FROM documents),
      k AS (SELECT doc_id, source, n_chars,
          ROUND(ln(u) / n_chars, 8) AS es_key FROM s),
      r AS (SELECT doc_id, source, n_chars, es_key,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY es_key DESC, doc_id) AS rk
        FROM k)
      SELECT source, doc_id, n_chars, es_key, CAST(rk AS INT) AS rk
      FROM r WHERE rk <= 3 ORDER BY source, rk"""),
    (s, d) => {
      val u = (graft.functions.Md5Prefix.md5_prefix32(col("doc_id"))
        + lit(1L)) / lit(4294967296.0)
      val key = round(log(u) / col("n_chars"), 8)
      val w = Window.partitionBy(col("source"))
        .orderBy(col("es_key").desc, col("doc_id"))
      documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          key.as("es_key"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select(col("source"), col("doc_id"), col("n_chars"),
          col("es_key"), col("rk"))
        .orderBy(col("source"), col("rk"))
    })

  /** UCB1 mixture scheduling, replayed on the logged event stream:
    * arms = event types (read: data sources in a mixture), rounds =
    * calendar days, reward = the arm's 2dp-rounded daily mean value.
    * Each day the policy scores every PREVIOUSLY-SEEN arm with
    * ucb = prior_mean + √(2·ln T_prior / n_prior) (counts from logged
    * exposure — the standard logged-data scoring, no simulated pulls,
    * so cumulative windows replace any sequential fold) and picks the
    * max (unseen arms first, then the 6dp-rounded ucb, then name);
    * regret tracks the hindsight-best fixed arm's cumulative daily
    * reward (days it lacks traffic contribute 0, documented). This is
    * the bandit view of the q180 temperature mixture: temperature
    * mixes by static counts, UCB re-weights by observed reward.
    *
    * Scale: all state is cumulative windows over the per-(type, day)
    * table — calendar-bounded (the q122 argument; registered in
    * `QueriesSpec.boundedGlobalWindow` for the day-level cumsums).
    */
  val q267UcbMixture = GraftQuery(
    "q267_ucb_mixture",
    "UCB1 mixture scheduler replayed on logged daily rewards, with regret",
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS ds, COUNT(*) AS n,
          CAST(SUM(CAST(ROUND(CAST(CAST(value * 100 AS VARCHAR)
            AS DECIMAL(38,18)), 0) AS BIGINT)) AS BIGINT) AS sc
        FROM events GROUP BY 1, 2),
      pri AS (
        SELECT event_type, ds, n, sc / 100.0 / n AS rbar,
          SUM(n) OVER w AS pn, SUM(sc) OVER w AS psc
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY ds
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      tot AS (
        SELECT ds, SUM(SUM(n)) OVER (ORDER BY ds
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS tp
        FROM daily GROUP BY ds),
      sc AS (
        SELECT pri.event_type, pri.ds, rbar, tot.tp,
          psc / 100.0 / pn + sqrt(2 * ln(tp) / pn) AS ucb,
          ROW_NUMBER() OVER (PARTITION BY pri.ds ORDER BY
            CASE WHEN pn IS NULL THEN 0 ELSE 1 END,
            ROUND(psc / 100.0 / pn + sqrt(2 * ln(tp) / pn), 6) DESC,
            pri.event_type) AS rk
        FROM pri JOIN tot ON pri.ds = tot.ds),
      best AS (
        SELECT event_type AS bt FROM daily
        GROUP BY 1 ORDER BY SUM(sc) * 1.0 / SUM(n) DESC, event_type
        LIMIT 1),
      ch AS (
        SELECT sc.ds, sc.event_type AS chosen, sc.ucb, sc.rbar AS reward,
          COALESCE(bd.rbar, 0.0) AS best_reward
        FROM sc
        LEFT JOIN (SELECT ds, sc / 100.0 / n AS rbar FROM daily, best
          WHERE event_type = bt) bd ON sc.ds = bd.ds
        WHERE rk = 1)
      SELECT ds, CAST(COALESCE(
          (SELECT tp FROM tot t WHERE t.ds = ch.ds), 0) AS BIGINT)
          AS t_prior,
        chosen,
        -- Spark-semantics rounding: Spark's round(double, 4) rounds the
        -- SHORTEST decimal representation (BigDecimal.valueOf) half-up,
        -- while DuckDB ROUND rounds the binary value — they disagree
        -- when the shortest repr lands exactly on the half boundary
        -- (sf0.001: rbar = 30703/800 = 38.37875 whose double sits just
        -- BELOW the half; Spark 38.3788, plain ROUND 38.3787). Routing
        -- through VARCHAR reproduces the shortest repr, and DECIMAL
        -- rounding is half-away-from-zero = Java HALF_UP on both signs.
        CAST(ROUND(CAST(CAST(ucb AS VARCHAR) AS DECIMAL(38,18)), 4)
          AS DOUBLE) AS ucb,
        CAST(ROUND(CAST(CAST(reward AS VARCHAR) AS DECIMAL(38,18)), 4)
          AS DOUBLE) AS reward,
        CAST(ROUND(CAST(CAST(SUM(best_reward - reward) OVER (ORDER BY ds
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE) AS cum_regret
      FROM ch ORDER BY ds"""),
    (s, d) => ucbMixture(events(s, d)))

  /** The q267 pipeline over any (event_type, ts, value) frame —
    * MixtureSpec hand-traces the explore phase and pins that a
    * clearly-best arm dominates the schedule with flat regret.
    *
    * Daily reward mass accumulates in integer CENTS (per-row
    * round(value·100) — the q235 idiom), not a rounded double SUM:
    * a double day-sum's association order differs between Spark's
    * partial aggregation and DuckDB's sequential scan, and the
    * surviving dust propagated into the UCB score where the round-10
    * sf0.001 sweep caught it landing exactly on a 4dp rounding
    * boundary (38.37875 → 38.3788 vs 38.3787). With integer sums,
    * every aggregate is order-independent and the remaining float
    * math is scalar — bit-identical on both engines.
    *
    * The per-row cents conversion itself rounds, and the oracle
    * replicates Spark's semantics STRUCTURALLY (round-11 verdict #3):
    * Spark round(double) rounds the shortest decimal repr half-up,
    * so the oracle routes `value * 100` through the VARCHAR→DECIMAL
    * half-up idiom instead of DuckDB's binary-value ROUND. The two
    * engines now agree on every representable input — including 3dp
    * values like 1.005 whose double sits just below the half cent,
    * where plain ROUND diverged — so the former "`value` must carry
    * ≤ 2 decimal places" precondition is gone. */
  def ucbMixture(ev: DataFrame): DataFrame = {
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("ds"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sc"))
    val wPrior = Window.partitionBy(col("event_type")).orderBy(col("ds"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pri = daily.select(col("event_type"), col("ds"),
      (col("sc") / lit(100.0) / col("n")).as("rbar"),
      sum(col("n")).over(wPrior).as("pn"),
      sum(col("sc")).over(wPrior).as("psc"))
    val wTot = Window.orderBy(col("ds"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = daily.groupBy(col("ds")).agg(sum(col("n")).as("dn"))
      .select(col("ds"), sum(col("dn")).over(wTot).as("tp"))
    val ucb = col("psc") / lit(100.0) / col("pn") +
      sqrt(lit(2) * log(col("tp")) / col("pn"))
    val wPick = Window.partitionBy(col("ds")).orderBy(
      when(col("pn").isNull, 0).otherwise(1),
      round(ucb, 6).desc_nulls_last, col("event_type"))
    val sc = pri.join(tot, Seq("ds"))
      .select(col("event_type"), col("ds"), col("rbar"), col("tp"),
        ucb.as("ucb"), row_number().over(wPick).as("rk"))
    val best = daily.groupBy(col("event_type"))
      .agg((sum(col("sc")) * lit(1.0) / sum(col("n"))).as("om"))
      .orderBy(col("om").desc, col("event_type")).limit(1)
      .select(col("event_type").as("bt"))
    val bd = daily.join(broadcast(best), col("event_type") === col("bt"))
      .select(col("ds"), (col("sc") / lit(100.0) / col("n")).as("brbar"))
    val ch = sc.where(col("rk") === 1)
      .join(bd, Seq("ds"), "left")
      .select(col("ds"), col("tp"), col("event_type").as("chosen"),
        col("ucb"), col("rbar").as("reward"),
        coalesce(col("brbar"), lit(0.0)).as("best_reward"))
    val wCum = Window.orderBy(col("ds"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ch.select(col("ds"),
        coalesce(col("tp"), lit(0L)).cast("long").as("t_prior"),
        col("chosen"), round(col("ucb"), 4).as("ucb"),
        round(col("reward"), 4).as("reward"),
        round(sum(col("best_reward") - col("reward")).over(wCum), 4)
          .as("cum_regret"))
      .orderBy(col("ds"))
  }
}
