package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Bench
import graft.etl.Ingest

/** Builder-side scale-crossover harness (round-5 verdict #1): SCALING.md
  * stops at sf0.1, where every designated scale form merely TIES its
  * exact ground-truth twin — the 100 TB claim was extrapolated from
  * curvature, never observed. This tool manufactures the regime the
  * fixtures are too small to reach: an amplified corpus where each
  * document/vector spawns M near-duplicate variants (deterministic
  * hash-driven perturbations — no RNG, so reruns are byte-identical),
  * i.e. near-dup CLUSTERS of size M. Pair-scoped exact derivations grow
  * ~M² inside each cluster; the banded/prefix/LSH forms stay ~M — the
  * separation the whole dedup architecture is designed around
  * (SURVEY §7.6 / book.md:11's densification dodge, done without the
  * dodge).
  *
  * Usage: runMain graft.tools.CrossoverBench <baseSfDir> <outDir> <M> <reps>
  * Generates <outDir>/documents.parquet + embeddings.parquet once
  * (one SourceLayout.publish of outDir), then times catalog queries
  * (q26/q54/q27 — live pair derivations over ShingleLayout) and the
  * live embedding dedup pipelines (exact vs LSH pair source through
  * components — the pre-layout forms of q132/q144) with the Bench
  * noop-sink harness, printing every rep.
  */
object CrossoverBench {

  /** M near-dup variants per document. k=0 is the original; k>0
    * replaces ~1/divisor of tokens (divisor cycles 50/20/10 with k, so
    * each cluster holds tight ~j0.9, mid ~j0.6 and loose ~j0.45
    * members — mass both above and below the 0.8 prefix-join
    * threshold and the 0.4 exact-join threshold). */
  def amplifyDocs(docs: DataFrame, m: Int): DataFrame =
    docs
      .withColumn("k", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("divisor",
        when(col("k") % 3 === 1, 50).when(col("k") % 3 === 2, 20)
          .otherwise(10))
      .select(
        (col("doc_id") * m + col("k")).as("doc_id"),
        col("source"),
        when(col("k") === 0, col("text")).otherwise(
          array_join(
            zip_with(
              split(col("text"), "\\s+"),
              sequence(lit(1), size(split(col("text"), "\\s+"))),
              (t, i) => when(
                pmod(xxhash64(col("doc_id"), col("k"), i), col("divisor"))
                  === 0,
                concat(t, lit("x"))).otherwise(t)),
            " ")).as("text"))

  /** M near-dup variants per vector: k>0 adds hash-driven pseudo-noise
    * with amplitude cycling 0.01/0.05/0.15 — clusters with tight and
    * loose members around the 0.4 cosine threshold. */
  def amplifyEmbeddings(emb: DataFrame, m: Int): DataFrame =
    emb
      .withColumn("k", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("amp",
        when(col("k") % 3 === 1, 0.01).when(col("k") % 3 === 2, 0.05)
          .otherwise(0.15))
      .select(
        (col("vec_id") * m + col("k")).as("vec_id"),
        col("label"),
        when(col("k") === 0, col("embedding").cast("array<float>")).otherwise(
          zip_with(
            col("embedding").cast("array<double>"),
            sequence(lit(1), size(col("embedding"))),
            (x, i) => x + col("amp") *
              (pmod(xxhash64(col("vec_id"), col("k"), i), lit(1000))
                .cast("double") / 500.0 - 1.0))
          .cast("array<float>")).as("embedding"))

  def main(args: Array[String]): Unit = {
    val Array(baseSfDir, outDir, mStr, repsStr) = args.take(4)
    val m = mStr.toInt
    val reps = repsStr.toInt
    val which = args.lift(4).getOrElse("all") // all | text | emb
    val spark = Bench.session()
    spark.range(1000).selectExpr("sum(id)").collect()

    graft.sources.SourceLayout.publish(outDir) { d =>
      amplifyDocs(graft.model.Tables.documents(spark, baseSfDir), m)
        .repartition(32)
        .write.parquet(s"$d/documents.parquet")
      amplifyEmbeddings(graft.model.Tables.embeddings(spark, baseSfDir), m)
        .repartition(32)
        .write.parquet(s"$d/embeddings.parquet")
    }
    val docs = Ingest.readParquet(spark, s"$outDir/documents.parquet")
    val emb = Ingest.readParquet(spark, s"$outDir/embeddings.parquet")
    println(s"[xb] corpus $outDir: ${docs.count()} docs, " +
      s"${emb.count()} vectors (M=$m from $baseSfDir)")

    def time(name: String)(mk: => DataFrame): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        Bench.noop(mk)
        val dt = (System.nanoTime() - t0) / 1e9
        Bench.reset(spark)
        dt
      }
      println(f"[xb] $name%-34s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }

    if (which != "emb") {
      // text family: the catalog queries themselves (live derivations
      // over the write-once shingle layout of outDir)
      Seq("q26_ngram_jaccard", "q54_jaccard_prefix", "q27_minhash_lsh_pairs")
        .foreach(n => time(n)(graft.SparkEntry.queries(n)(spark, outDir)))
      // same-task dispatch pair: naive full shingle join vs PPJoin
      // prefix at the SAME threshold 0.8 (q26 vs q54 differ in
      // threshold too; this isolates the join strategy)
      val shingles = graft.sources.ShingleLayout.shingles(spark, outDir)
      time("jaccard_full_join@0.8")(
        graft.text.Dedup.jaccardPairs(docs, 0.8,
          shingleTable = Some(shingles)))
    }
    if (which != "text") {
      // embedding family: live pipelines (pre-layout forms of q132/q144)
      time("semantic_dedup_exact_live")(
        graft.queries.CurationQueries.semanticDedup(emb,
          graft.text.Dedup.embeddingDupPairs(emb, 0.4)))
      time("semantic_dedup_lsh_p4")(
        graft.queries.CurationQueries.semanticDedup(emb,
          graft.text.Dedup.embeddingDupPairsLsh(emb, 0.4, dim = 64)))
      // geometry scaled to the corpus — the lshPlanesFor dispatch rule
      // q144 now applies (at fixture scales it resolves to the same 4)
      val planes = graft.text.Dedup.lshPlanesFor(emb.count())
      time(s"semantic_dedup_lsh_p$planes")(
        graft.queries.CurationQueries.semanticDedup(emb,
          graft.text.Dedup.embeddingDupPairsLsh(emb, 0.4, dim = 64,
            planes = planes)))
      // IVF geometry A/B (round-6 verdict #2, the lshPlanesFor lesson
      // applied to cells): fixed 16 cells keep the probed candidate
      // set a CONSTANT fraction of the corpus (nProbe/16 = 25% — brute
      // force with extra steps), while cellsFor(n) shrinks it as
      // nProbe·4/√n. Timed end-to-end (quantizer fit + probe + search)
      // as k=1 self-retrieval — the q83 shape.
      val cells = graft.text.Ivf.cellsFor(emb.count())
      time("ivf_ann_fixed_c16")(
        graft.text.Ivf.ivfCosineTopK(emb, lit(true), k = 1, nCells = 16,
          maxIter = 8))
      time(s"ivf_ann_adaptive_c$cells")(
        graft.text.Ivf.ivfCosineTopK(emb, lit(true), k = 1,
          nCells = cells, maxIter = 8))
    }
    spark.stop()
  }
}
