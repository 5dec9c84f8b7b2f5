package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Ingest
import graft.sources.SourceLayout
import graft.text.{Components, CorpusPipeline, Dedup, TextAnalysis}

/** Streaming corpus-curation funnel — the operational twin of
  * q284_corpus_funnel (round-8 verdict #6): the composed admission
  * contract a 100 TB pipeline actually runs. Incoming training-doc
  * waves are admitted against the STANDING corpus stage by stage, and
  * after every wave the maintained state reproduces the batch funnel
  * over the cumulative corpus EXACTLY (FunnelStreamSpec pins frame
  * row-equality per wave) — this is the ComponentStream +
  * AdmissionStream composition the single-stage streams (q134/q154/
  * q160 twins) each cover alone.
  *
  * Like [[ComponentMaintainer]], state is an epoch-versioned parquet
  * layout chain, never executor memory — three tables per epoch:
  *
  *  - `docs`: one row per training doc ever admitted, carrying its
  *    admission-time per-doc flags (quality, decontamination, mixture
  *    — each a function of the doc's own text/id, so frozen at
  *    admission equals batch-on-any-corpus) plus the LIVE exact-keeper
  *    flag;
  *  - `shingles`: the (doc_id, sh, n_sh) index over every doc that was
  *    EVER an exact keeper — the static side each wave's near-dup pair
  *    join probes (AdmissionStream's existing-shingle shape, grown
  *    incrementally);
  *  - `comps`: the (node, component) assignment, advanced by
  *    [[Components.incrementalComponents]] (the q164 contract: work
  *    ∝ wave, merges handled, replayed edges contract to self-loops).
  *
  * Why frozen-at-admission still equals the batch funnel frame:
  *
  *  - exact keeper (batch: max n_chars, then min doc_id, per
  *    content-hash group of the cumulative corpus) is maintained
  *    exactly — each wave's members contest ONLY the standing keeper
  *    of their hash (the order is total, so pairwise resolution
  *    against the incumbent is global resolution), and a displaced
  *    incumbent's flag is revoked in place. Revocation is the
  *    documented non-monotone edge of the contract, not a violation:
  *    batch semantics prefer the longer doc whenever it arrives.
  *  - the near-dup partition over current keepers matches batch even
  *    though `comps` accumulates ex-keeper nodes: same content hash ⟹
  *    same normalized text ⟹ identical shingle set, so every edge
  *    through an ex-keeper is replicated by its hash-class's current
  *    keeper, and restricting the partition to current keepers yields
  *    the batch partition. The per-component keeper (f_nk) is then
  *    re-derived at read time by the same (n_chars desc, doc_id)
  *    window batch uses — component LABELS may differ from batch
  *    (min-id drifts as keepers swap), the partition and the chosen
  *    keepers do not, and the funnel frame only sees those.
  *  - per-doc flags are computed for every admitted doc; batch leaves
  *    quality/contamination unevaluated for non-keepers (they fall
  *    out of the cumulative AND either way), so the funnel frames
  *    agree even where the per-doc flag tables would not.
  *
  * The benchmark (decontamination reference) is FIXED at construction
  * — the frozen-eval-suite regime; a growing benchmark would revoke
  * standing admissions retroactively, which is exactly the operation
  * a production funnel schedules as a batch re-run, not a stream.
  *
  * Scale: per wave, work is wave flags (one aggregate over the wave),
  * the wave-vs-index shingle join (∝ wave shingles × collisions, the
  * AdmissionStream bound), the incremental component merge (q164
  * bound), and the epoch write. The epoch write is the only
  * full-state pass — the same cost ComponentMaintainer documents; at
  * 100 TB the three tables are the corpus metadata layouts the batch
  * pipeline already maintains, partitioned by hash/doc_id so the
  * rewrite shards. Wire as
  * `waveStream.writeStream.foreachBatch(m.sink)` — the admission plan
  * needs general joins against state tables, the case Structured
  * Streaming delegates to foreachBatch.
  */
final class CorpusFunnelMaintainer(spark: SparkSession, stateDir: String,
                                   benchmark: DataFrame) {

  import CorpusPipeline.NearDupThreshold

  /** Static decontamination reference: the benchmark's distinct
    * shingle set (in batch, the eval side's shingles). */
  private val bench = Dedup.shingleRows(benchmark)
    .select(col("sh")).distinct()
    .withColumn("hit", lit(1))
    .localCheckpoint(false)

  // an epoch's three tables are published as one directory, so an
  // epoch is complete only with all three (SourceLayout.lastEpoch)
  @volatile private var epoch = SourceLayout.lastEpoch(stateDir).getOrElse {
    import spark.implicits._
    // virgin state: an empty corpus (wave 0 arrives like any other)
    SourceLayout.publish(s"$stateDir/epoch0") { d =>
      Seq.empty[(Long, String, Long, Long, String,
          Boolean, Boolean, Boolean, Boolean)]
        .toDF("doc_id", "source", "n_chars", "n_tok", "content_hash",
          "f_ek", "f_q", "f_dc", "f_mx")
        .write.parquet(s"$d/docs")
      Seq.empty[(Long, String, Long)].toDF("doc_id", "sh", "n_sh")
        .write.parquet(s"$d/shingles")
      Seq.empty[(Long, Long)].toDF("node", "component")
        .write.parquet(s"$d/comps")
    }
    0
  }

  private def tbl(name: String): DataFrame =
    Ingest.readParquet(spark, s"$stateDir/epoch$epoch/$name")

  /** Merge one wave of (doc_id, source, text, n_chars) training docs;
    * advances the epoch. Replayed/eval-side docs are dropped before
    * anything else, so a pure-replay wave is a no-op. */
  def update(wave: DataFrame): Unit = synchronized {
    val docsSt = tbl("docs")
    val fresh = CorpusPipeline.trainingSide(
        wave.select(col("doc_id"), col("source"), col("text"),
          col("n_chars")).dropDuplicates("doc_id"))
      .join(docsSt.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    if (fresh.isEmpty) return

    // per-doc flags, frozen at admission (each is a function of the
    // doc's own text/id — identical on any corpus, see class doc)
    val shF = Dedup.shingleRows(fresh).localCheckpoint(false)
    val hits = shF
      .join(bench, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh_dc"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
    val flagged = CorpusPipeline.withQualityReason(fresh)
      .withColumn("n_tok", TextAnalysis.tokenCount(col("text")).cast("long"))
      .withColumn("content_hash", CorpusPipeline.contentHash(col("text")))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("source"), col("n_chars"), col("n_tok"),
        col("content_hash"),
        CorpusPipeline.qualityPass(col("reason")).as("f_q"),
        CorpusPipeline.decontaminated(col("n_hit"), col("n_sh_dc"))
          .as("f_dc"),
        CorpusPipeline.mixtureKeep(col("doc_id"), col("source")).as("f_mx"))
      .localCheckpoint(false)

    // exact-keeper contest: wave members vs the standing keeper of
    // their content hash, resolved by the batch ordering
    val incumbents = docsSt.filter(col("f_ek"))
      .join(flagged.select(col("content_hash")).distinct(),
        Seq("content_hash"), "left_semi")
      .select(col("content_hash"), col("doc_id"), col("n_chars"),
        lit(false).as("is_new"))
    val contest = flagged
      .select(col("content_hash"), col("doc_id"), col("n_chars"),
        lit(true).as("is_new"))
      .unionByName(incumbents)
    val wEk = Window.partitionBy(col("content_hash"))
      .orderBy(CorpusPipeline.keeperOrder: _*)
    val resolved = contest
      .withColumn("f_ek", row_number().over(wEk) === 1)
      .localCheckpoint(false)
    val freshDocs = flagged
      .join(resolved.filter(col("is_new"))
        .select(col("doc_id"), col("f_ek")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("n_tok"),
        col("content_hash"), col("f_ek"), col("f_q"), col("f_dc"),
        col("f_mx"))
    val displaced = resolved
      .filter(!col("is_new") && !col("f_ek"))
      .select(col("doc_id"), lit(true).as("lost"))

    // near-dup pairs of the wave's NEW KEEPERS: vs the standing
    // ever-keeper shingle index (cross) and within the wave (intra)
    val shinglesSt = tbl("shingles")
    val newKeeperIds = freshDocs.filter(col("f_ek")).select(col("doc_id"))
    val shK = shF.join(newKeeperIds, Seq("doc_id"), "left_semi")
      .localCheckpoint(false)
    val jac = col("inter") / (col("n_a") + col("n_b") - col("inter"))
    val cross = shK
      .select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"), col("sh"))
      .join(shinglesSt.select(col("doc_id").as("doc_b"),
        col("n_sh").as("n_b"), col("sh")), Seq("sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"), min(col("n_a")).as("n_a"),
        min(col("n_b")).as("n_b"))
      .filter(jac >= NearDupThreshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val intra = Dedup
      .jaccardPairs(fresh, NearDupThreshold, shingleTable = Some(shK))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val merged = Components.incrementalComponents(tbl("comps"),
      cross.unionByName(intra))
    val singletons = newKeeperIds
      .join(merged.select(col("node").as("doc_id")), Seq("doc_id"),
        "left_anti")
      .select(col("doc_id").as("node"), col("doc_id").as("component"))

    // epoch advance (docs with revoked incumbents + the wave's rows)
    val next = epoch + 1
    SourceLayout.publish(s"$stateDir/epoch$next") { d =>
      docsSt.join(displaced, Seq("doc_id"), "left_outer")
        .withColumn("f_ek", col("f_ek") && col("lost").isNull)
        .drop("lost")
        .unionByName(freshDocs)
        .write.parquet(s"$d/docs")
      shinglesSt.unionByName(shK).write.parquet(s"$d/shingles")
      merged.unionByName(singletons).write.parquet(s"$d/comps")
    }
    epoch = next
    // prune superseded epochs AFTER the new one is fully written —
    // restart recovery only ever opens the highest complete epoch, so
    // keeping the full chain would grow the state dir O(waves × state)
    // for nothing; epoch `next - 1` is retained as the crash fallback
    // (one complete epoch behind the live one). A failure mid-delete just
    // leaves extra complete epochs for the next update to prune.
    SourceLayout.pruneEpochs(stateDir, below = next - 1)
  }

  /** The live per-doc flag frame in [[CorpusPipeline.perDocStages]]
    * shape: the per-component keeper is re-derived from the current
    * keeper set by the batch window (see class doc). */
  def flagFrame: DataFrame = {
    val docs = tbl("docs")
    val wNk = Window.partitionBy(col("component"))
      .orderBy(CorpusPipeline.keeperOrder: _*)
    val nk = docs.filter(col("f_ek"))
      .join(tbl("comps").withColumnRenamed("node", "doc_id"),
        Seq("doc_id"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("f_nk", row_number().over(wNk) === 1)
      .select(col("doc_id"), col("f_nk"))
    docs.join(nk, Seq("doc_id"), "left_outer")
      .withColumn("f_nk", coalesce(col("f_nk"), lit(false)))
  }

  /** The funnel report over the current state — the IDENTICAL
    * aggregate plan as q284's batch frame
    * ([[CorpusPipeline.funnelFromFlags]]). */
  def funnel: DataFrame = CorpusPipeline.funnelFromFlags(flagFrame)

  /** foreachBatch adapter. */
  def sink: (DataFrame, Long) => Unit = (batch, _) => update(batch)
}
