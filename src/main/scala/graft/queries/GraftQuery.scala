package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a named Spark query over an sf-dir of fixture
  * parquet, plus (when ANSI-SQL-expressible) the DuckDB oracle SQL the
  * driver hash-compares against (driver contract in
  * `graft/SparkEntry.scala`). Column names and order-by keys must match
  * between `run`'s result and `oracle` — the compare sorts columns by
  * name and hashes values.
  */
final case class GraftQuery(
    name: String,
    doc: String,
    oracle: Option[String],
    body: (SparkSession, String) => DataFrame) {

  /** Builds the query on `spark`, [[GraftQuery.prepare]]d first: a
    * session the catalog runs on plans the same whoever built it. The
    * JVM's warm-up is started, never awaited, so its outcome cannot
    * reach the query; a query that needs a table the warm-up has not
    * built yet waits for it or builds it. */
  def run(spark: SparkSession, sfDir: String): DataFrame = {
    GraftQuery.prepare(spark)
    body(spark, sfDir)
  }
}

object GraftQuery {
  /** Readies `spark` for the catalog: its planner gets
    * [[graft.etl.OnePartitionSort]], and the JVM's one-time
    * [[WarmUp]] starts in the background. The session builders call
    * it, and so does every [[GraftQuery.run]]. */
  def prepare(spark: SparkSession): Unit = {
    graft.etl.OnePartitionSort.install(spark)
    WarmUp.start(spark)
  }
}

/** Shared DuckDB-oracle CTE fragments. Six oracles previously carried
  * the exact 3-gram Jaccard pair derivation (toks → sh → ex → pairs)
  * as verbatim copies; one definition keeps every oracle's
  * tokenization in sync with `Dedup.shingleRows` — a drift in any
  * copy (n-gram width, normalization, the len(t) >= 3 guard) would
  * desynchronize that one oracle and fail verify confusingly.
  * Callers append their own filter/projection CTEs after it.
  */
private[queries] object OracleCtes {
  val shinglePairs: String = """toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(list_transform(range(len(t) - 2),
            i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingles
        FROM toks WHERE len(t) >= 3),
      ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM sh),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter,
          MIN(a.n_sh) AS n_a, MIN(b.n_sh) AS n_b
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2)"""
}

object Catalog {
  /** Full registry; SparkEntry derives `queries` and `oracleSql` from it.
    * Duplicate names fail LOUDLY: SparkEntry's `toMap` would otherwise
    * silently shadow one of the colliding queries — it would vanish
    * from Bench and Verify while everything still reports green. */
  def all: Seq[GraftQuery] = {
    val qs =
      Relational.queries ++ TextQueries.queries ++ ExtraQueries.queries ++
        SqlQueries.queries ++ PipelineQueries.queries ++
        SurfaceQueries.queries ++ CorpusQueries.queries ++
        AnalyticsQueries.queries ++ MixtureQueries.queries ++
        CurationQueries.queries ++ LabelQualityQueries.queries ++
        MultimodalQueries.queries ++ SelectionQueries.queries ++
        StructureQueries.queries ++ ResolutionQueries.queries ++
        EvalQueries.queries ++ SeriesQueries.queries ++
        ExperimentQueries.queries ++ RankingQueries.queries ++
        AgreementQueries.queries ++ MlOracleQueries.queries ++
        CausalQueries.queries ++ LinkPredQueries.queries ++
        GovernanceQueries.queries ++ DiagnosticsQueries.queries
    val dupes = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dupes.isEmpty, s"duplicate catalog query names: ${dupes.mkString(", ")}")
    qs
  }
}
