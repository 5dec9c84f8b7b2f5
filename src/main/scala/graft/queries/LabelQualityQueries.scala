package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables._
import graft.text.{Similarity => Sim}

/** Label-quality diagnostics over the labeled embedding corpus — the
  * "find the mislabeled examples" pass of supervised-data curation
  * (confident-learning style, via its two classic geometric proxies):
  * local neighborhood label agreement (q141) and global distance to
  * the label centroid (q142). Both are pure compositions of the
  * catalog's vector machinery ([[graft.text.Similarity]]), and both
  * are exact and oracle-checked; the fixture's labels are random with
  * respect to the vectors, which the operators faithfully report
  * (chance-level agreement) — LabelQualitySpec plants correlated
  * labels to pin the discrimination behavior the fixture can't show.
  */
object LabelQualityQueries {

  def queries: Seq[GraftQuery] =
    Seq(q141KnnLabelAgreement, q142CentroidOutliers, q143AnnLabelAgreement,
      q166HardNegatives, q177CentroidConfusion, q200MatryoshkaAgreement,
      q202IvfHardNegatives, q203IvfMatryoshkaAgreement,
      q247ConfidentLearning)

  /** Matryoshka truncation fidelity — does the 16-dim PREFIX of each
    * embedding retrieve the same nearest neighbor as the full vector?
    * The eval behind prefix-truncation deployment (MRL-style tiered
    * retrieval: cheap prefix pass, full-dim re-rank): per vector, the
    * cosine top-1 under both geometries from ONE all-pairs candidate
    * stream carrying two scores into two bounded heaps — same q141
    * discipline (ties by smaller neighbor id, zero vectors scored
    * −1.0, the probed DuckDB convention). The all-pairs join is the
    * deliberate exact ground truth (q30/q141 precedent); the 100 TB
    * path swaps the candidate source to IVF probes, EXECUTED as
    * [[q203IvfMatryoshkaAgreement]] with this identical downstream.
    * Low agreement says the prefix dims don't carry the neighborhood
    * — don't ship the truncation.
    */
  val q200MatryoshkaAgreement = GraftQuery(
    "q200_matryoshka_agreement",
    "top-1 neighbor agreement between full and 16-dim-prefix cosine",
    Some("""WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      p AS (
        SELECT a.vec_id AS qa, b.vec_id AS nb,
          list_cosine_similarity(a.v, b.v) AS s_full,
          list_cosine_similarity(a.v[1:16], b.v[1:16]) AS s_trunc
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      rf AS (SELECT qa, nb, ROW_NUMBER() OVER (PARTITION BY qa
          ORDER BY s_full DESC, nb) AS rk FROM p),
      rt AS (SELECT qa, nb, ROW_NUMBER() OVER (PARTITION BY qa
          ORDER BY s_trunc DESC, nb) AS rk FROM p)
      SELECT rf.qa AS vec_id, rf.nb AS nn_full, rt.nb AS nn_trunc,
        CAST(CASE WHEN rf.nb = rt.nb THEN 1 ELSE 0 END AS INTEGER)
          AS agree
      FROM rf JOIN rt ON rf.qa = rt.qa AND rf.rk = 1 AND rt.rk = 1
      ORDER BY 1"""),
    (s, d) => matryoshkaAgreement(
      embeddings(s, d).select(col("vec_id"), col("embedding")), 16)
      .orderBy(col("vec_id")))

  /** The q200 plan over any (vec_id, embedding) frame: top-1 under
    * full-dim and `prefix`-dim cosine from one pair stream into two
    * bounded heaps (LabelQualitySpec pins the discrimination the
    * random fixture can't show: prefix-informative vectors agree,
    * suffix-informative ones don't). */
  def matryoshkaAgreement(emb: org.apache.spark.sql.DataFrame,
      prefix: Int): org.apache.spark.sql.DataFrame = {
    import graft.functions.TopKByScore.top_k_by
    val e = emb.select(col("vec_id"),
        Sim.toDouble(col("embedding")).as("v"))
      .withColumn("vt", slice(col("v"), 1, prefix))
      .withColumn("nrm", Sim.norm2(col("v")))
      .withColumn("nrmt", Sim.norm2(col("vt")))
    val q = e.select(col("vec_id").as("q_id"), col("v").as("qv"),
      col("vt").as("qvt"), col("nrm").as("qnrm"), col("nrmt").as("qnrmt"))
    val npF = col("qnrm") * col("nrm")
    val npT = col("qnrmt") * col("nrmt")
    // one pair stream, both scores, two bounded heaps — the heap's
    // payload tie-break (smaller id) matches ORDER BY sim DESC, nb
    // stream-side spread, same rationale as [[knnLabelAgreement]]
    matryoshkaOverPairs(
      broadcast(q).join(graft.model.Tables.spread(e, col("vec_id")),
          col("q_id") =!= col("vec_id"))
        .select(col("q_id"),
          when(npF =!= 0.0, Sim.dot(col("qv"), col("v")) / npF)
            .otherwise(lit(-1.0)).as("s_full"),
          when(npT =!= 0.0, Sim.dot(col("qvt"), col("vt")) / npT)
            .otherwise(lit(-1.0)).as("s_trunc"),
          col("vec_id").as("nb")))
  }

  /** The shared tail of q200/q203: a (q_id, s_full, s_trunc, nb)
    * candidate stream through the two bounded 1-element heaps into the
    * agreement columns — the candidate SOURCE (all pairs vs IVF-probed
    * cells) is the only difference between the twins, the q141/q143
    * convention. */
  private def matryoshkaOverPairs(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.TopKByScore.top_k_by
    pairs
      .groupBy(col("q_id"))
      .agg(top_k_by(col("s_full"), col("nb"), 1).as("hf"),
        top_k_by(col("s_trunc"), col("nb"), 1).as("ht"))
      .select(col("q_id").as("vec_id"),
        col("hf")(0)("payload").as("nn_full"),
        col("ht")(0)("payload").as("nn_trunc"),
        (col("hf")(0)("payload") === col("ht")(0)("payload"))
          .cast("int").as("agree"))
  }

  /** q200's 100 TB form, EXECUTED (round-6 verdict item #1, closing
    * the q141→q143 pattern): the candidate source swaps from the
    * O(n²) all-pairs stream to the IVF-probed cells — each vector
    * scores only the corpus inside its `nProbe` nearest quantizer
    * cells (cells from the FULL-dim geometry: the prefix is the
    * candidate's second SCORE, not a second index) — and the
    * downstream two-heap agreement is IDENTICAL (same
    * [[matryoshkaOverPairs]] call as the exact twin). Rows-only at the
    * gate (quantizer cell boundaries are engine-specific);
    * LabelQualitySpec pins ≥ 0.9 per-row agreement parity vs q200 on
    * the fixture and the same prefix/suffix discrimination on planted
    * corpora.
    */
  val q203IvfMatryoshkaAgreement = GraftQuery(
    "q203_ivf_matryoshka_agreement",
    "full-vs-prefix top-1 agreement with IVF-probed candidates (q200's 100 TB swap-in)",
    None,
    (s, d) => ivfMatryoshkaAgreement(
      embeddings(s, d).select(col("vec_id"), col("embedding")), 16,
      index = Some(graft.sources.IvfLayout.index(s, d)))
      .orderBy(col("vec_id")))

  /** The q203 plan over any (vec_id, embedding) frame; `index` lets
    * the catalog entry read the shared write-once quantizer
    * ([[graft.sources.IvfLayout]], shared with q83/q143/q202). */
  def ivfMatryoshkaAgreement(emb: org.apache.spark.sql.DataFrame,
      prefix: Int, nCells: Int = 16, nProbe: Int = 4,
      index: Option[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] = None)
      : org.apache.spark.sql.DataFrame = {
    import graft.text.Ivf
    val (indexed, centroids) =
      index.getOrElse(Ivf.buildIndex(emb, nCells, maxIter = 8))
    // no checkpoint: the layout-era index is a parquet scan, so the
    // query and candidate sides each re-derive a scan + narrow
    // projection (cheaper than a checkpoint job + its write at any
    // scale — the norm arithmetic is a per-row constant)
    val e = indexed.select(col("vec_id"), col("v"), col("cell"))
      .withColumn("vt", slice(col("v"), 1, prefix))
      .withColumn("nrm", Sim.norm2(col("v")))
      .withColumn("nrmt", Sim.norm2(col("vt")))
    val q = e.select(col("vec_id").as("q_id"), col("v").as("qv"),
      col("vt").as("qvt"), col("nrm").as("qnrm"), col("nrmt").as("qnrmt"))
    // spread the probe stream (guide §2.5): the corpus side broadcasts,
    // so the O(n·nProbe/nCells) scoring projection runs at the STREAM
    // side's width — and the probe table's window exchange is small
    // enough that AQE coalesces it to one partition at fixture scale,
    // single-threading the whole scoring leg. The keyed spread is a
    // REPARTITION_BY_NUM exchange AQE never coalesces; at cluster
    // scale it is one cheap exchange of the skinny probe table.
    val probes = graft.model.Tables.spread(
      Ivf.probeCells(q, centroids, nProbe), col("q_id"))
    val npF = col("qnrm") * col("nrm")
    val npT = col("qnrmt") * col("nrmt")
    matryoshkaOverPairs(
      probes.join(e, Seq("cell")).where(col("q_id") =!= col("vec_id"))
        .select(col("q_id"),
          when(npF =!= 0.0, Sim.dot(col("qv"), col("v")) / npF)
            .otherwise(lit(-1.0)).as("s_full"),
          when(npT =!= 0.0, Sim.dot(col("qvt"), col("vt")) / npT)
            .otherwise(lit(-1.0)).as("s_trunc"),
          col("vec_id").as("nb")))
  }

  /** k-NN label agreement (k = 10): for each vector, the fraction of
    * its cosine nearest neighbors sharing its label; low agreement
    * flags a likely labeling error (or an off-manifold example). The
    * brute-force neighbor join is the oracle-checkable ground truth
    * (q30's precedent); at 100 TB the candidate source swaps to the
    * IVF / LSH lists (q83/q106) with the identical downstream
    * label join + aggregate.
    */
  val q141KnnLabelAgreement = GraftQuery(
    "q141_knn_label_agreement",
    "fraction of 10 cosine-NN sharing each vector's label (noise flag < 0.3)",
    Some("""WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      p AS (
        SELECT a.vec_id AS qa, a.label AS la, b.label AS lb, b.vec_id AS nb,
          list_cosine_similarity(a.v, b.v) AS sim
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qa
          ORDER BY sim DESC, nb) AS rk FROM p)
      SELECT qa AS vec_id, MIN(la) AS label,
        CAST(SUM(CASE WHEN lb = la THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        ROUND(SUM(CASE WHEN lb = la THEN 1 ELSE 0 END) / 10.0, 4)
          AS match_frac,
        CAST(CASE WHEN SUM(CASE WHEN lb = la THEN 1 ELSE 0 END) / 10.0 < 0.3
          THEN 1 ELSE 0 END AS INTEGER) AS is_suspect
      FROM r WHERE rk <= 10 GROUP BY qa ORDER BY qa"""),
    (s, d) => knnLabelAgreement(embeddings(s, d), 10).orderBy(col("vec_id")))

  /** The q141 plan over any (vec_id, embedding, label) frame.
    * Neighbor selection is the bounded-heap top-k aggregate
    * ([[graft.functions.TopKByScore]], same tie-break as
    * `ORDER BY sim DESC, id`): the all-pairs similarity stream never
    * materializes through a sort — each partition keeps k candidates
    * per query, so the shuffle carries O(queries · k), not O(n²)
    * (measured 7.4 s → ~2 s at sf0.1 vs the row_number window). */
  def knnLabelAgreement(emb: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.TopKByScore.top_k_by
    // Precompute each vector's norm ONCE as a scalar column carried
    // through the join, so the O(n²) pair stream does a single
    // codegen'd dot product per pair plus scalar arithmetic —
    // Sim.cosine would walk the arrays five times per pair (dot +
    // two norms, the ANSI zero-guard double-evaluating the norm
    // product). Same formula as the oracle's cosine; a zero vector's
    // NULL score never enters the heap (TopKByScore skips nulls).
    val e = emb.select(col("vec_id"), col("label"),
      Sim.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Sim.norm2(col("v")))
    val q = e.select(col("vec_id").as("q_id"), col("label").as("la"),
      col("v").as("qv"), col("nrm").as("qnrm"))
    val np = col("qnrm") * col("nrm")
    // Degenerate (all-zero) vectors score -1.0, matching DuckDB's
    // list_cosine_similarity convention exactly (probed: zero-vs-x
    // AND zero-vs-zero both return -1.0 there) — a NULL here would
    // instead be dropped by the heap and silently shrink the
    // neighbor list relative to the oracle.
    // The heap payload packs (neighbor id << 32 | label): the label
    // rides along for free, so no second join or aggregate is needed
    // to score the returned top-k — and because the label occupies
    // the LOW bits, payload order still breaks score ties by smaller
    // neighbor id, exactly the oracle's ORDER BY sim DESC, nb.
    // (Labels are non-negative ints < 2³²; ids keep 31 bits, which
    // a per-shard id space covers at any corpus size.)
    // spread the streamed corpus side: the O(n²) dot-product leg runs
    // at the stream's parallelism, and the fixture embeddings scan is
    // one row group → 1 partition (q side stays on the raw scan — it
    // is collected for broadcast anyway)
    agreementOverPairs(
      broadcast(q).join(graft.model.Tables.spread(e, col("vec_id")),
          col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("la"),
          when(np =!= 0.0, Sim.dot(col("qv"), col("v")) / np)
            .otherwise(lit(-1.0)).as("cos"),
          (col("vec_id") * lit(1L << 32) + col("label")).as("pl")),
      k)
  }

  /** The shared tail of q141/q143: a (q_id, la, cos, pl) candidate
    * stream — pl packing (neighbor id << 32 | label), cos already
    * computed — through the bounded-heap top-k into the agreement
    * columns. The candidate SOURCE is the only thing that differs
    * between the exact twin (all pairs) and the ANN form (IVF-probed
    * cells). */
  private def agreementOverPairs(pairs: org.apache.spark.sql.DataFrame,
                                 k: Int): org.apache.spark.sql.DataFrame = {
    import graft.functions.TopKByScore.top_k_by
    val nMatch = size(filter(col("top"),
      s => s.getField("payload").bitwiseAND(lit((1L << 32) - 1))
        === col("la"))).cast("long")
    pairs
      .groupBy(col("q_id"), col("la"))
      .agg(top_k_by(col("cos"), col("pl"), k).as("top"))
      .select(col("q_id").as("vec_id"), col("la").as("label"),
        nMatch.as("n_match"),
        round(nMatch / lit(k * 1.0), 4).as("match_frac"),
        (nMatch / lit(k * 1.0) < 0.3).cast("int").as("is_suspect"))
  }

  /** q141's 100 TB form, EXECUTED (round-5 verdict item #1): the
    * candidate source swaps from the O(n²) all-pairs stream to the
    * IVF-probed cells of [[graft.text.Ivf]] — each vector scores only
    * the corpus inside its `nProbe` nearest quantizer cells, cost
    * O(n · nProbe / nCells) per vector — and the downstream label
    * join + bounded-heap aggregate is IDENTICAL (same
    * [[agreementOverPairs]] call as the exact twin). Rows-only at the
    * gate (KMeans cell boundaries are engine-specific);
    * LabelQualitySpec pins ≥ 0.9 per-row agreement parity vs q141 on
    * the planted-cluster fixture (and the same corrupted-label
    * discrimination).
    */
  val q143AnnLabelAgreement = GraftQuery(
    "q143_ann_label_agreement",
    "kNN label agreement with IVF-probed candidates (q141's 100 TB swap-in)",
    None,
    (s, d) => annLabelAgreement(embeddings(s, d), 10,
      index = Some(graft.sources.IvfLayout.index(s, d)))
      .orderBy(col("vec_id")))

  /** The q143 plan over any (vec_id, embedding, label) frame. `index`
    * lets the catalog entry read the shared write-once quantizer
    * ([[graft.sources.IvfLayout]], shared with q83) instead of
    * re-fitting per query. */
  def annLabelAgreement(emb: org.apache.spark.sql.DataFrame, k: Int,
                        nCells: Int = 16, nProbe: Int = 4,
                        index: Option[(org.apache.spark.sql.DataFrame,
                          org.apache.spark.sql.DataFrame)] = None)
      : org.apache.spark.sql.DataFrame = {
    import graft.text.Ivf
    // maxIter=8 like q83's quantizer fit: cell assignments stabilize in
    // a few Lloyd rounds and the fit is the query's dominant constant
    val (indexed, centroids) =
      index.getOrElse(Ivf.buildIndex(emb, nCells, maxIter = 8))
    // both index forms carry `label`: the v2 layout corpus stores it (a
    // physical column of the base table riding on the cell-indexed
    // corpus) and buildIndex passes it through its transform, so no
    // join-back is needed
    val e = indexed.withColumn("nrm", Sim.norm2(col("v")))
    val queries = e.select(col("vec_id").as("q_id"), col("v").as("qv"),
      col("nrm").as("qnrm"), col("label").as("la"))
    // spread rationale: see ivfMatryoshkaAgreement — the scoring leg
    // otherwise runs on one AQE-coalesced partition at fixture scale
    val probes = graft.model.Tables.spread(
      Ivf.probeCells(queries, centroids, nProbe), col("q_id"))
    val np = col("qnrm") * col("nrm")
    // same zero-norm convention as the exact twin: degenerate vectors
    // score -1.0 rather than NULL so they never shrink the heap
    agreementOverPairs(
      probes.join(e, Seq("cell")).where(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("la"),
          when(np =!= 0.0, Sim.dot(col("qv"), col("v")) / np)
            .otherwise(lit(-1.0)).as("cos"),
          (col("vec_id") * lit(1L << 32) + col("label")).as("pl")),
      k)
  }

  /** Hard-example (triplet) mining for contrastive training — for each
    * anchor: its most-similar SAME-label vector (the anchoring
    * positive) and its most-similar OTHER-label vector (the hard
    * negative, batch-hard style). `margin = pos_sim − neg_sim`; a
    * non-positive margin is a hard triplet — the negative sits closer
    * than the nearest positive, exactly the examples a metric-learning
    * pass needs. Plan: the q141 all-pairs candidate stream (the
    * oracle-checkable ground truth; the 100 TB candidate source swaps
    * to the IVF cells, EXECUTED as [[q202IvfHardNegatives]] with this
    * identical downstream) into TWO
    * bounded 1-element heaps per anchor — a `when` routes each pair to
    * its class heap and nulls never enter ([[graft.functions.TopKByScore]]
    * skips them), so one aggregate pass computes both sides with
    * map-side combine; the shuffle carries ≤ 2 rows per
    * (anchor × partition), never the O(n²) stream.
    */
  val q166HardNegatives = GraftQuery(
    "q166_hard_negatives",
    "triplet mining: nearest same-label + nearest other-label per anchor",
    Some("""WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      p AS (
        SELECT a.vec_id AS qa, a.label AS la, b.vec_id AS nb, b.label AS lb,
          list_cosine_similarity(a.v, b.v) AS sim
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      pos AS (
        SELECT qa, nb, sim FROM (
          SELECT qa, nb, sim, ROW_NUMBER() OVER (PARTITION BY qa
            ORDER BY sim DESC, nb) AS rk
          FROM p WHERE lb = la) WHERE rk = 1),
      neg AS (
        SELECT qa, nb, sim FROM (
          SELECT qa, nb, sim, ROW_NUMBER() OVER (PARTITION BY qa
            ORDER BY sim DESC, nb) AS rk
          FROM p WHERE lb <> la) WHERE rk = 1)
      SELECT e.vec_id, e.label,
        -- + 0.0 normalizes IEEE signed zero: a margin rounding to zero
        -- from below is -0.0 on one engine and 0.0 on the other
        -- (caught by the round-10 sf0.1 sweep; equal VALUES, different
        -- bytes — the q286 hash-sensitivity class)
        pos.nb AS pos_id, ROUND(pos.sim, 4) + 0.0 AS pos_sim,
        neg.nb AS neg_id, ROUND(neg.sim, 4) + 0.0 AS neg_sim,
        ROUND(pos.sim - neg.sim, 4) + 0.0 AS margin,
        CAST(CASE WHEN pos.sim - neg.sim <= 0 THEN 1 ELSE 0 END
          AS INTEGER) AS is_hard
      FROM e LEFT JOIN pos ON e.vec_id = pos.qa
        LEFT JOIN neg ON e.vec_id = neg.qa
      ORDER BY e.vec_id"""),
    (s, d) => hardNegatives(embeddings(s, d)).orderBy(col("vec_id")))

  /** The q166 plan over any (vec_id, embedding, label) frame. Same
    * norm-precompute + zero-vector −1.0 convention as
    * [[knnLabelAgreement]] (so degenerate vectors are RANKED like the
    * oracle ranks them, not dropped). */
  def hardNegatives(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.TopKByScore.top_k_by
    val e = emb.select(col("vec_id"), col("label"),
      Sim.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Sim.norm2(col("v")))
    val q = e.select(col("vec_id").as("q_id"), col("label").as("la"),
      col("v").as("qv"), col("nrm").as("qnrm"))
    val np = col("qnrm") * col("nrm")
    // stream-side spread, same rationale as [[knnLabelAgreement]]
    tripletOverPairs(
      broadcast(q).join(graft.model.Tables.spread(e, col("vec_id")),
          col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("la"), col("vec_id").as("nb"),
          col("label").as("lb"),
          when(np =!= 0.0, Sim.dot(col("qv"), col("v")) / np)
            .otherwise(lit(-1.0)).as("cos")))
  }

  /** The shared tail of q166/q202: a (q_id, la, nb, lb, cos)
    * candidate stream through the two class-routed bounded heaps into
    * the triplet columns — only the candidate SOURCE (all pairs vs
    * IVF-probed cells) differs between the twins. */
  private def tripletOverPairs(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.TopKByScore.top_k_by
    val best = pairs
      .groupBy(col("q_id"), col("la"))
      .agg(
        top_k_by(when(col("lb") === col("la"), col("cos")), col("nb"), 1)
          .as("tp"),
        top_k_by(when(col("lb") =!= col("la"), col("cos")), col("nb"), 1)
          .as("tn"))
    // get() (0-based) returns NULL on an empty heap; element_at would
    // THROW under ANSI for a label with no candidates in a class
    val tp = get(col("tp"), lit(0))
    val tn = get(col("tn"), lit(0))
    val margin = tp.getField("score") - tn.getField("score")
    // + 0.0 normalizes IEEE signed zero (see the oracle's note): a
    // margin rounding to -0.0 hashes differently from 0.0 even though
    // the values compare equal
    best.select(col("q_id").as("vec_id"), col("la").as("label"),
      tp.getField("payload").as("pos_id"),
      (round(tp.getField("score"), 4) + lit(0.0)).as("pos_sim"),
      tn.getField("payload").as("neg_id"),
      (round(tn.getField("score"), 4) + lit(0.0)).as("neg_sim"),
      (round(margin, 4) + lit(0.0)).as("margin"),
      when(margin <= 0, 1).otherwise(0).as("is_hard"))
  }

  /** q166's 100 TB form, EXECUTED (round-6 verdict item #1): the
    * candidate source swaps from the O(n²) all-pairs stream to the
    * IVF-probed cells — each anchor mines its positive and its hard
    * negative from the corpus inside its `nProbe` nearest quantizer
    * cells, cost O(n · nProbe / nCells) per anchor — and the
    * downstream class-routed two-heap aggregate is IDENTICAL (same
    * [[tripletOverPairs]] call as the exact twin). Mining from the
    * neighborhood is exactly batch-hard semantics: a negative outside
    * the probed cells is by construction not a HARD negative. One
    * honest divergence from the exact twin: a badly mislabeled anchor
    * whose claimed class is entirely ABSENT from its probed
    * neighborhood gets a null positive (the singleton-label
    * convention) — a strictly stronger mislabel signal the all-pairs
    * form can't produce, pinned as such in LabelQualitySpec.
    * Rows-only at the gate (quantizer cell boundaries are
    * engine-specific); LabelQualitySpec pins ≥ 0.9 per-row triplet
    * parity vs q166 and the same corrupted-label discrimination on
    * planted clusters.
    */
  val q202IvfHardNegatives = GraftQuery(
    "q202_ivf_hard_negatives",
    "triplet mining with IVF-probed candidates (q166's 100 TB swap-in)",
    None,
    (s, d) => ivfHardNegatives(embeddings(s, d),
      index = Some(graft.sources.IvfLayout.index(s, d)))
      .orderBy(col("vec_id")))

  /** The q202 plan over any (vec_id, embedding, label) frame; `index`
    * lets the catalog entry read the shared write-once quantizer
    * ([[graft.sources.IvfLayout]], shared with q83/q143/q203). Same
    * norm-precompute + zero-vector −1.0 convention as the exact twin. */
  def ivfHardNegatives(emb: org.apache.spark.sql.DataFrame,
      nCells: Int = 16, nProbe: Int = 4,
      index: Option[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] = None)
      : org.apache.spark.sql.DataFrame = {
    import graft.text.Ivf
    val (indexed, centroids) =
      index.getOrElse(Ivf.buildIndex(emb, nCells, maxIter = 8))
    // both index forms carry `label` — the q143 rationale exactly
    val e = indexed.withColumn("nrm", Sim.norm2(col("v")))
    val queries = e.select(col("vec_id").as("q_id"), col("v").as("qv"),
      col("nrm").as("qnrm"), col("label").as("la"))
    // spread rationale: see ivfMatryoshkaAgreement — the scoring leg
    // otherwise runs on one AQE-coalesced partition at fixture scale
    val probes = graft.model.Tables.spread(
      Ivf.probeCells(queries, centroids, nProbe), col("q_id"))
    val np = col("qnrm") * col("nrm")
    tripletOverPairs(
      probes.join(e, Seq("cell")).where(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("la"), col("vec_id").as("nb"),
          col("label").as("lb"),
          when(np =!= 0.0, Sim.dot(col("qv"), col("v")) / np)
            .otherwise(lit(-1.0)).as("cos")))
  }

  /** Centroid-distance outliers: cosine of each vector to its LABEL
    * CENTROID (componentwise mean), flagging the bottom 5% per label —
    * the global counterpart to q141's local test (a mislabeled point
    * sits far from its claimed class center even when its local
    * neighborhood is mixed). Plan: one explode + (label, dim)
    * aggregate builds the centroid table — labels × dim rows, tiny at
    * ANY corpus size, so it re-assembles into per-label arrays and
    * joins back BROADCAST; the corpus itself is scanned once and
    * never exploded on the scoring side (the native codegen'd vector
    * ops take the centroid array whole).
    */
  val q142CentroidOutliers = GraftQuery(
    "q142_centroid_outliers",
    "cosine to own-label centroid, bottom 5% per label flagged",
    Some("""WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      ev AS (
        SELECT vec_id, label, t.i AS pos, v[t.i] AS x
        FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
      cent AS (SELECT label, pos, AVG(x) AS c FROM ev GROUP BY 1, 2),
      s AS (
        SELECT ev.vec_id, ev.label,
          SUM(ev.x * cent.c) AS dot,
          sqrt(SUM(ev.x * ev.x)) AS nx, sqrt(SUM(cent.c * cent.c)) AS nc
        FROM ev JOIN cent USING (label, pos) GROUP BY 1, 2),
      d AS (SELECT vec_id, label, dot / (nx * nc) AS cosc FROM s),
      pr AS (SELECT vec_id, label, cosc,
        PERCENT_RANK() OVER (PARTITION BY label ORDER BY cosc, vec_id)
          AS prk FROM d)
      SELECT vec_id, label, ROUND(cosc, 6) AS cos_centroid,
        CAST(CASE WHEN prk <= 0.05 THEN 1 ELSE 0 END AS INTEGER) AS is_far
      FROM pr ORDER BY vec_id"""),
    (s, d) => centroidOutliers(embeddings(s, d)).orderBy(col("vec_id")))

  /** Nearest-centroid confusion matrix — the k-means E-step run once
    * with class means as the codebook (nearest-class-mean
    * classification): every vector is assigned to its highest-cosine
    * label centroid and the (label, assigned) counts say how
    * separable the labeling is in embedding space (diagonal mass ≈
    * coherence; the fixture's random labels faithfully read as
    * chance). Centroids are the q142 derivation (dim-exploded
    * distributed AVG, re-assembled sorted); the assignment is a
    * 10-row broadcast against the corpus with a per-vector (never
    * global) argmax window. Ties broken by centroid label asc on
    * both engines; FP noise from summation order sits ~1e-15, nine
    * orders under the 1e-4 round and microscopic against argmax
    * gaps.
    */
  val q177CentroidConfusion = GraftQuery(
    "q177_centroid_confusion",
    "nearest-label-centroid assignment confusion counts + mean cosine",
    Some("""WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      ev AS (
        SELECT vec_id, label, t.i AS pos, v[t.i] AS x
        FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
      centd AS (SELECT label AS clabel, pos, AVG(x) AS c FROM ev GROUP BY 1, 2),
      cent AS (SELECT clabel, list(c ORDER BY pos) AS cv FROM centd GROUP BY 1),
      s AS (
        SELECT e.vec_id, e.label, cent.clabel,
          list_cosine_similarity(e.v, cent.cv) AS cos
        FROM e CROSS JOIN cent),
      r AS (
        SELECT vec_id, label, clabel, cos,
          ROW_NUMBER() OVER (PARTITION BY vec_id
            ORDER BY cos DESC, clabel) AS rk
        FROM s)
      SELECT label, clabel AS assigned, COUNT(*) AS n,
        ROUND(AVG(cos), 4) AS avg_cos
      FROM r WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, d) => {
      val e = embeddings(s, d).select(col("vec_id"), col("label"),
        Sim.toDouble(col("embedding")).as("v"))
      val cent = e
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("c"))
        .groupBy(col("label").as("clabel"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          f => f.getField("c")).as("cv"))
      e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("label"), col("clabel"),
          Sim.cosine(col("v"), col("cv")).as("cos"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("cos").desc, col("clabel"))))
        .where(col("rk") === 1)
        .groupBy(col("label"), col("clabel").as("assigned"))
        .agg(count(lit(1)).as("n"), round(avg(col("cos")), 4).as("avg_cos"))
        .orderBy(col("label"), col("assigned"))
    })

  /** The q142 plan over any (vec_id, embedding, label) frame. */
  def centroidOutliers(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val e = emb.select(col("vec_id"), col("label"),
      Sim.toDouble(col("embedding")).as("v"))
    val cent = e
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cv"))
    val scored = e.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        Sim.cosine(col("v"), col("cv")).as("cosc"))
    scored
      // NULLS LAST to match DuckDB's ordering: a degenerate vector's
      // NULL cosine must rank prk = 1.0 (unflagged) on both engines —
      // Spark's ascending default is NULLS FIRST, which would flag it
      .withColumn("prk", percent_rank().over(
        Window.partitionBy(col("label"))
          .orderBy(col("cosc").asc_nulls_last, col("vec_id"))))
      .select(col("vec_id"), col("label"),
        round(col("cosc"), 6).as("cos_centroid"),
        (col("prk") <= 0.05).cast("int").as("is_far"))
  }

  /** Confident-learning label-noise estimation (Northcutt et al.) —
    * the PROBABILISTIC member of the label-quality family (q141/q143
    * test geometric neighborhood agreement, q167 graph agreement;
    * this one needs only a per-row score): class thresholds t_j =
    * mean self-class probability over rows LABELED j, a row is
    * confidently class j when its probability for j clears t_j
    * (both-clear → larger margin, margin ties → class 1; neither →
    * abstain), and the off-diagonal of the confident joint C[y][ŷ]
    * estimates the label-error mass. Scored by q217's transparent
    * rational return-risk score against the return flag. Thresholds
    * are rounded to 9dp in BOTH engines before the comparisons — the
    * distributed-mean dust must not flip a boundary row. Two scans of
    * the scored frame (thresholds, then the confident sweep), all
    * group sums; one output row.
    */
  val q247ConfidentLearning = GraftQuery(
    "q247_confident_learning",
    "confident-learning joint + label-noise estimate from the q217 score",
    Some("""WITH b AS (
        SELECT least(0.99, 0.05 + l_discount * 3 + l_quantity / 200.0)
            AS s,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem),
      t AS (
        SELECT ROUND(AVG(CASE WHEN y = 1 THEN s END), 9) AS t1,
          ROUND(AVG(CASE WHEN y = 0 THEN 1 - s END), 9) AS t0
        FROM b),
      conf AS (
        SELECT y,
          CASE
            WHEN s >= t1 AND (1 - s) >= t0 THEN
              CASE WHEN s - t1 >= (1 - s) - t0 THEN 1 ELSE 0 END
            WHEN s >= t1 THEN 1
            WHEN (1 - s) >= t0 THEN 0
          END AS yhat
        FROM b, t),
      c AS (
        SELECT
          SUM(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS c00,
          SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS c01,
          SUM(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS c10,
          SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS c11,
          COUNT(*) AS n_all, COUNT(yhat) AS n_conf
        FROM conf)
      SELECT t.t1, t.t0, CAST(n_all AS BIGINT) AS n_rows,
        CAST(n_conf AS BIGINT) AS n_confident,
        CAST(c00 AS BIGINT) AS c00, CAST(c01 AS BIGINT) AS c01,
        CAST(c10 AS BIGINT) AS c10, CAST(c11 AS BIGINT) AS c11,
        CAST(ROUND(CAST(CAST((c01 + c10) * 1.0 / n_conf AS VARCHAR)
          AS DECIMAL(38,18)), 6) AS DOUBLE) AS noise_rate
      FROM c, t"""),
    (s, d) => confidentLearning(lineitem(s, d).select(
      least(lit(0.99), lit(0.05) + col("l_discount") * 3 +
        col("l_quantity") / 200.0).as("s"),
      when(col("l_returnflag") === "R", 1).otherwise(0).as("y"))))

  /** The q247 pipeline over any (s: double, y: 0/1) frame —
    * LabelQualitySpec hand-traces the thresholds, the abstain band,
    * and a planted flipped label caught off-diagonal. */
  def confidentLearning(base: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val t = base.agg(
      round(avg(when(col("y") === 1, col("s"))), 9).as("t1"),
      round(avg(when(col("y") === 0, lit(1) - col("s"))), 9).as("t0"))
    val conf = base.crossJoin(broadcast(t))
      .select(col("y"),
        when(col("s") >= col("t1") && (lit(1) - col("s")) >= col("t0"),
          when(col("s") - col("t1") >= (lit(1) - col("s")) - col("t0"), 1)
            .otherwise(0))
          .when(col("s") >= col("t1"), 1)
          .when((lit(1) - col("s")) >= col("t0"), 0)
          .as("yhat"))
    conf.agg(
      sum(when(col("y") === 0 && col("yhat") === 0, 1).otherwise(0))
        .as("c00"),
      sum(when(col("y") === 0 && col("yhat") === 1, 1).otherwise(0))
        .as("c01"),
      sum(when(col("y") === 1 && col("yhat") === 0, 1).otherwise(0))
        .as("c10"),
      sum(when(col("y") === 1 && col("yhat") === 1, 1).otherwise(0))
        .as("c11"),
      count(lit(1)).as("n_all"), count(col("yhat")).as("n_conf"))
      .crossJoin(broadcast(t))
      .select(col("t1"), col("t0"), col("n_all").cast("long").as("n_rows"),
        col("n_conf").cast("long").as("n_confident"),
        col("c00").cast("long").as("c00"), col("c01").cast("long").as("c01"),
        col("c10").cast("long").as("c10"), col("c11").cast("long").as("c11"),
        round((col("c01") + col("c10")) * 1.0 / col("n_conf"), 6)
          .as("noise_rate"))
  }
}
