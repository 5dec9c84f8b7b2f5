package graft.text

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the index-based
  * scale path next to brute force ([[Similarity.cosineTopK]]) and LSH
  * ([[Similarity.lshCosineTopK]]), per SURVEY.md §7.6.
  *
  * Build: a KMeans coarse quantizer (fit once — at 100 TB, on a
  * sample) assigns every corpus vector to its nearest of `nCells`
  * centroid cells; the "index" is just a cell_id column, so it lives
  * in the table layout (partition/bucket by cell_id) rather than a
  * side structure. Query: probe the `nProbe` nearest cells and search
  * only those — cost drops from O(n) to O(n · nProbe / nCells) per
  * query at equal layout.
  */
object Ivf {

  /** Count-driven quantizer geometry — the IVF application of the
    * measured fixed-geometry lesson (tools/CrossoverBench, round 6:
    * fixed LSH plane counts INVERT at scale, hence
    * [[Dedup.lshPlanesFor]]; a fixed 16-cell IVF has the same failure
    * mode — cell size grows O(n), so the probed candidate set stays a
    * constant fraction of the corpus and the "index" degenerates to a
    * 25% brute-force scan).
    *
    * Quarter-sqrt law, clamped: `max(16, min(65536, √n / 4))`.
    *  - √n keeps the two cost legs balanced: the probe stage scores
    *    n·nCells query↔centroid dots, the search stage
    *    n·nProbe·(n/nCells) candidate dots — both Θ(n^1.5) at
    *    nCells = Θ(√n), whereas fixed cells make the search leg Θ(n²)
    *    and per-vector-target cells make the probe leg Θ(n²).
    *  - /4 keeps cells ~16× fatter than plain √n, so the geometry
    *    resolves to the legacy fixed 16 at every fixture scale
    *    (n ≤ 4096) — recall pins and layout dirs are unchanged until
    *    the corpus is big enough for geometry to matter (the
    *    lshPlanesFor dispatch pattern exactly).
    *  - the 65536 cap keeps the centroid table broadcastable by
    *    construction (64-dim doubles → ≤ 34 MB) at any corpus size;
    *    past it, recall is bought with nProbe, not more cells.
    */
  def cellsFor(n: Long): Int =
    math.max(16L, math.min(65536L, math.sqrt(n.toDouble).toLong / 4)).toInt

  /** Corpus with a `cell` column from the fitted quantizer, plus the
    * centroid table (nCells rows — broadcastable by construction).
    * `emb` must carry (vec_id, embedding); any EXTRA columns (e.g. the
    * embeddings table's `label`) pass through the transform untouched
    * after (vec_id, v, cell), the [[probeCells]] rule, so callers never
    * join them back. */
  def buildIndex(emb: DataFrame, nCells: Int = 16, seed: Long = 42L,
                 maxIter: Int = 20)
      : (DataFrame, DataFrame) = {
    val extra = emb.columns.filterNot(Set("vec_id", "embedding")).map(col)
    val withVec = emb.select(Seq(col("vec_id"),
      Similarity.toDouble(col("embedding")).as("v"),
      array_to_vector(col("embedding")).as("features")) ++ extra: _*)
    val km = new KMeans().setK(nCells).setMaxIter(maxIter).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cell")
      .fit(withVec)
    val indexed = km.transform(withVec)
      .select(Seq(col("vec_id"), col("v"), col("cell")) ++ extra: _*)
    val centroids = km.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray)
    }
    val spark = emb.sparkSession
    import spark.implicits._
    (indexed, centroids.toSeq.toDF("cell", "centroid"))
  }

  /** Pair each query row with its `nProbe` nearest centroid cells
    * (euclidean, matching the quantizer's metric). `queries` must carry
    * (q_id, qv, qnrm); any EXTRA columns (e.g. a label riding along for
    * q143's agreement aggregate) pass through untouched, so callers
    * never need a second join to recover query-side attributes.
    * ‖q−c‖² = ‖q‖² − 2q·c + ‖c‖² via the native vector ops (no
    * lambdas); the centroid table is nCells rows — broadcast by
    * construction. */
  def probeCells(queries: DataFrame, centroids: DataFrame,
                 nProbe: Int): DataFrame = {
    import graft.functions.VectorOps.{dot_product, l2_norm}
    val dist2 = pow(col("qnrm"), 2) -
      lit(2.0) * dot_product(col("qv"), col("centroid")) +
      pow(l2_norm(col("centroid")), 2)
    val wCell = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("cell"))
    val carried = queries.columns.map(col) :+ col("cell")
    queries.crossJoin(broadcast(centroids))
      .withColumn("d2", dist2)
      .withColumn("cr", row_number().over(wCell))
      .where(col("cr") <= nProbe)
      .select(carried: _*)
  }

  /** Approximate top-k: each query probes its `nProbe` closest
    * centroids (euclidean, matching the quantizer's metric), then runs
    * exact cosine only inside those cells.
    */
  def ivfCosineTopK(emb: DataFrame, isQuery: Column, k: Int,
                    nCells: Int = 16, nProbe: Int = 4,
                    seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    val (indexed, centroids) = buildIndex(emb, nCells, seed, maxIter)
    ivfCosineTopKOver(indexed, centroids, isQuery, k, nProbe)
  }

  /** The search half of [[ivfCosineTopK]] over an ALREADY-BUILT index
    * — the entry point for index-as-storage callers
    * ([[graft.sources.IvfLayout]]): at 100 TB the cell column lives in
    * the table layout, written once per ingest wave, and every query
    * reads it instead of re-fitting the quantizer. */
  def ivfCosineTopKOver(indexed: DataFrame, centroids: DataFrame,
                        isQuery: Column, k: Int, nProbe: Int): DataFrame = {
    import graft.functions.VectorOps.{dot_product, l2_norm}
    // query norm computed ONCE per query, reused by the cell-distance
    // expression (which would otherwise re-walk the array nCells
    // times) and by the candidate scoring downstream
    val queries = indexed.where(isQuery)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        l2_norm(col("v")).as("qnrm"))
    // spread the probe stream (guide §2.5): the indexed-corpus side
    // broadcasts below the threshold, so the candidate scoring runs at
    // the probe stream's width — whose window exchange AQE coalesces
    // to ONE partition at fixture scale. The keyed spread survives
    // AQE (REPARTITION_BY_NUM); at cluster scale it is one cheap
    // exchange of the skinny probe table.
    val probes = graft.model.Tables.spread(
      probeCells(queries, centroids, nProbe), col("q_id"))
    // Search only the probed cells. Same candidate-stream discipline
    // as q141 (LabelQualityQueries.knnLabelAgreement): norms ride as
    // scalar columns so each candidate costs ONE codegen'd dot (the
    // guarded cosine walks the arrays five times), and the top-k
    // comes from the bounded-heap aggregate — the shuffle carries
    // O(queries · k), never a sort of the full candidate stream.
    // Tie-break (score desc, id asc) matches the former window's
    // ORDER BY cos DESC, vec_id.
    import graft.functions.TopKByScore.top_k_by
    val np = col("qnrm") * col("nrm")
    probes.join(indexed.withColumn("nrm", l2_norm(col("v"))), Seq("cell"))
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"),
        // degenerate (zero-norm) vectors score -1.0, the q141
        // convention: a NULL would be dropped by the heap and the
        // query would silently vanish from the output, where the
        // former window ranked NULL-cos rows last but kept them
        when(np =!= 0.0, dot_product(col("qv"), col("v")) / np)
          .otherwise(lit(-1.0)).as("cos"),
        col("vec_id"))
      .groupBy(col("q_id"))
      .agg(top_k_by(col("cos"), col("vec_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("q_id"), col("hit.payload").as("vec_id"),
        round(col("hit.score"), 4).as("cos"),
        (col("pos") + 1).cast("int").as("rk"))
  }
}
