package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Catalog

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * All real logic lives in graft.queries.Catalog; this object only
  * adapts the registry to the driver's shape.
  */
object SparkEntry {
  /** Flagship query (SURVEY.md §7.2 slice) on /root/testdata/sf0.001;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_lag_join_daily")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> (q.run _)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Catalog.all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
