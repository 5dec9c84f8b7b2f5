package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.model.Tables

/** Invariants for the selection/retrieval wave (q172–q176) that the
  * DuckDB oracles can't phrase directly — split exactness, fusion
  * monotonicity, chunk accounting. Value-level equality is the
  * oracle's job. */
class SelectionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf0001

  test("q176 split is disjoint, exhaustive, and exactly floor-cut per source") {
    val out = SelectionQueries.q176StratifiedSplit.run(spark, sf).collect()
    val perSource = Tables.documents(spark, sf)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val grouped = out.groupBy(_.getString(0))
    grouped.foreach { case (src, rows) =>
      val n = perSource(src)
      val bySplit = rows.map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(bySplit.values.sum === n, s"$src not exhaustive")
      val train = math.floor(n * 8 / 10.0).toLong
      val vl = math.floor(n * 9 / 10.0).toLong - train
      assert(bySplit.getOrElse("train", 0L) === train, s"$src train cut")
      assert(bySplit.getOrElse("val", 0L) === vl, s"$src val cut")
      assert(bySplit.getOrElse("test", 0L) === n - train - vl, s"$src test cut")
    }
    assert(grouped.keySet === perSource.keySet)
  }

  test("q176 is reproducible run-to-run (salted hash, no RNG)") {
    val a = SelectionQueries.q176StratifiedSplit.run(spark, sf).collect().toSeq
    val b = SelectionQueries.q176StratifiedSplit.run(spark, sf).collect().toSeq
    assert(a === b)
  }

  test("q172 emits exactly the analytic chunk count per doc") {
    val out = SelectionQueries.q172RagChunks.run(spark, sf)
      .groupBy(col("doc_id")).count()
    val expected = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).as("n"))
      .select(col("doc_id"),
        when(col("n") <= 16, 1L)
          .otherwise(ceil((col("n") - 16) / lit(12.0)).cast("long") + 1)
          .as("expected"))
    val mismatched = out.join(expected, "doc_id")
      .where(col("count") =!= col("expected")).count()
    assert(mismatched === 0)
  }

  test("q174 fusion output is rank-consistent") {
    val rows = SelectionQueries.q174RrfFusion.run(spark, sf).collect()
    assert(rows.nonEmpty)
    // every fused doc is in at least one list; rrf strictly matches the
    // reciprocal-rank formula; output is rrf-descending
    val rrfs = rows.map { r =>
      val rb = r.getAs[Int]("r_bm"); val rv = r.getAs[Int]("r_vec")
      assert(rb > 0 || rv > 0)
      val exp = (if (rb > 0) 1.0 / (60 + rb) else 0.0) +
        (if (rv > 0) 1.0 / (60 + rv) else 0.0)
      val got = r.getAs[Double]("rrf")
      assert(math.abs(got - exp) < 1e-6)
      got
    }
    assert(rrfs.sameElements(rrfs.sorted(Ordering[Double].reverse)))
    // a doc ranked well in BOTH lists must outscore one ranked in a
    // single list at the same depth — the point of fusion
    val both = rows.filter(r => r.getAs[Int]("r_bm") > 0 && r.getAs[Int]("r_vec") > 0)
    if (both.nonEmpty) assert(rrfs.head >= rrfs.last)
  }

  test("q174's BM25 list by hand: a repeated doc_id sums, a term-free doc counts toward n but is not scored") {
    import spark.implicits._
    val docs = Seq((1L, "spark stream spark"), (2L, "filter the data"),
      (2L, "Spark  jobs"), (3L, "nothing here at all"), (4L, null))
      .toDF("doc_id", "text")
    val got = SelectionQueries.bm25(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 2 is one document of 5 tokens; doc 4 has no text, so no
    // tokens: n = 3, avgdl = (3 + 5 + 4) / 3 = 4, df = spark 2,
    // filter 1, stream 1, idf(df) = ln(1 + (3 - df + 0.5) / (df + 0.5))
    val (idf2, idf1) = (math.log(1.6), math.log(8.0 / 3))
    def norm(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 4.0))
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Map(
      1L -> r4(idf2 * norm(2, 3) + idf1 * norm(1, 3)),
      2L -> r4(idf2 * norm(1, 5) + idf1 * norm(1, 5))))
  }

  test("q175 scores only non-target docs and never selects the target lang") {
    val rows = SelectionQueries.q175DsirSelect.run(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(1) != "zh"))
  }

  test("q178 precision/recall/F1 are bounded and F1 is the harmonic mean") {
    val rows = SelectionQueries.q178RougeOverlap.run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val p = r.getAs[Double]("p"); val rc = r.getAs[Double]("r")
      val f1 = r.getAs[Double]("f1"); val ni = r.getAs[Long]("n_inter")
      assert(p >= 0 && p <= 1 && rc >= 0 && rc <= 1 && f1 >= 0 && f1 <= 1)
      if (ni == 0) assert(f1 === 0.0)
      else assert(math.abs(f1 - 2 * p * rc / (p + rc)) < 2e-4)
    }
  }

  test("q181 piece mass equals q179's total piece count (two paths, one scan)") {
    val totalPieces = SelectionQueries.q179SubwordSegment.run(spark, sf)
      .agg(org.apache.spark.sql.functions.sum(col("n_pieces"))).collect()(0).getLong(0)
    val pieceMass = SelectionQueries.q181PieceUtilization.run(spark, sf)
      .agg(org.apache.spark.sql.functions.sum(col("n_occ"))).collect()(0).getLong(0)
    assert(totalPieces === pieceMass)
  }

  test("q179 fertility >= 1 and docs containing 'spark' or 'key' have fallbacks") {
    val out = SelectionQueries.q179SubwordSegment.run(spark, sf)
    assert(out.where(col("fertility") < 1.0).count() === 0)
    val kDocs = graft.model.Tables.documents(spark, sf)
      .where(col("text").rlike("\\b(spark|key)\\b"))
      .select(col("doc_id"))
    val noFallback = out.join(kDocs, "doc_id")
      .where(col("n_fallback") === 0).count()
    assert(noFallback === 0)
  }

  test("q271 ql-dirichlet: smoothing scores term-free docs; hand trace") {
    import spark.implicits._
    // corpus: d1 = "spark spark filter" (dl 3), d2 = "data base"
    // (dl 2, NO probe term). ctot = 5, ctf(spark) = 2, ctf(filter)
    // = 1; 'stream' is absent from the whole collection → P(t|C) = 0
    // → the term drops for every doc identically (documented).
    // d1: ln(42/103) + ln(21/103); d2: ln(40/102) + ln(20/102) —
    // BOTH docs score (the Dirichlet point: zero-tf isn't zero), and
    // d1 ranks above d2.
    val docs = Seq((1L, "spark spark filter"), (2L, "data base"))
      .toDF("doc_id", "text")
    val r = SelectionQueries.qlDirichlet(docs,
      Seq("spark", "filter", "stream"), 100.0, 20).collect()
    def r4(x: Double) = math.round(x * 1e4) / 1e4
    assert(r.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(r(0).getDouble(2) ===
      r4(math.log(42.0 / 103) + math.log(21.0 / 103)))
    assert(r(1).getDouble(2) ===
      r4(math.log(40.0 / 102) + math.log(20.0 / 102)))
  }
}
