package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Ingest
import graft.sources.SourceLayout
import graft.text.Components

/** Streaming incremental connected-component maintenance — the
  * operational twin of q164 (`Components.incrementalComponents`): an
  * admission stream keeps the corpus' near-dup clustering CURRENT as
  * pair batches arrive, instead of recomputing the transitive closure
  * nightly.
  *
  * The (node, component) assignment is kept as an epoch-versioned
  * parquet TABLE, not in executor memory: each micro-batch contracts
  * its edges against the current epoch (work ∝ wave, never corpus —
  * the q164 guarantee) and writes the next epoch dir. That is exactly
  * the production shape at 100 TB — the state is a layout-chain table
  * a failure can re-open at the last epoch, the epoch write is the
  * only full-assignment pass, and the merge itself never rescans the
  * existing corpus. Replayed edges contract to self-loops and are
  * filtered before the fixpoint, so updates are idempotent (pinned by
  * ComponentStreamSpec).
  *
  * Wire it as `edgeStream.writeStream.foreachBatch(m.sink)` — the
  * contraction needs a general join against the state table, which is
  * precisely the case Structured Streaming delegates to foreachBatch
  * rather than to continuous stateful operators.
  */
final class ComponentMaintainer(spark: SparkSession, stateDir: String,
                                initial: DataFrame) {

  // Restart recovery: resume from the highest COMPLETE epoch already
  // on disk (SourceLayout.lastEpoch) — a maintainer that unconditionally
  // rewrote epoch0 with `initial` would silently discard every merged
  // wave on restart. Only a virgin stateDir seeds epoch0 from `initial`.
  // Every epoch is published through SourceLayout.publish, so a torn
  // epoch dir (no marker) is ignored and replaced by the next update.
  @volatile private var epoch = SourceLayout.lastEpoch(stateDir).getOrElse {
    SourceLayout.publish(s"$stateDir/epoch0")(
      initial.select(col("node"), col("component")).write.parquet(_))
    0
  }

  /** The live (node, component) assignment (current epoch read-back). */
  def current: DataFrame = Ingest.readParquet(spark, s"$stateDir/epoch$epoch")

  /** Merge one batch of (src, dst) pairs; advances the epoch. */
  def update(edges: DataFrame): Unit = synchronized {
    val next = Components.incrementalComponents(current,
      edges.select(col("src"), col("dst")))
    SourceLayout.publish(s"$stateDir/epoch${epoch + 1}")(next.write.parquet(_))
    epoch += 1
    // prune superseded epochs after the successful write (the
    // CorpusFunnelMaintainer rule): recovery only opens the highest
    // complete epoch, so the chain would grow O(waves × assignment)
    // unread; the immediately previous epoch stays as crash fallback
    SourceLayout.pruneEpochs(stateDir, below = epoch - 1)
  }

  /** foreachBatch adapter. */
  def sink: (DataFrame, Long) => Unit = (batch, _) => update(batch)
}
