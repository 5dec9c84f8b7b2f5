package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Tables._

/** Pipeline-health diagnostics — the profiling queries a 100 TB job
  * runs BEFORE choosing physical strategy, turned into catalog
  * operators: join-key skew (decides salting / AQE skew-join / the
  * broadcast threshold, SCALING.md's own knobs) and per-column
  * completeness/cardinality (the Deequ-style contract check gating
  * ingest). The reference hand-tunes its joins once and never
  * measures why (music.md:253-338); an engine that documents its
  * skew story should be able to QUERY it.
  *
  * Scale design: each key profile is one group-by (the same shuffle
  * the join itself would do, so the diagnostic is never costlier than
  * the join it derisks); top-k shares via TakeOrdered over the
  * per-key count table; the column profile is a single pass of
  * conditional aggregates plus one distinct-count per column.
  */
object DiagnosticsQueries {

  def queries: Seq[GraftQuery] = Seq(q268SkewReport, q269NullProfile)

  /** Join-key skew report over lineitem's three join keys: per key,
    * the row/key counts, the heaviest key's share, max/avg ratio
    * (the number AQE's skew threshold reasons about), and the top-10
    * keys' combined share. Integer counts and exact ratios — the
    * 4dp round is cosmetic. */
  val q268SkewReport = GraftQuery(
    "q268_skew_report",
    "join-key skew profile (top-1/top-10 share, max/avg) for lineitem's keys",
    Some("""WITH k AS (
        SELECT 'l_orderkey' AS key_col, l_orderkey AS k FROM lineitem
        UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
        UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
      c AS (SELECT key_col, k, COUNT(*) AS cnt FROM k GROUP BY 1, 2),
      t AS (
        SELECT key_col, cnt,
          ROW_NUMBER() OVER (PARTITION BY key_col
            ORDER BY cnt DESC, k) AS rk
        FROM c),
      s AS (
        SELECT key_col, SUM(cnt) AS n_rows, COUNT(*) AS n_keys,
          MAX(cnt) AS max_cnt
        FROM c GROUP BY 1),
      top10 AS (
        SELECT key_col, SUM(cnt) AS t10 FROM t WHERE rk <= 10
        GROUP BY 1)
      SELECT s.key_col, CAST(n_rows AS BIGINT) AS n_rows,
        CAST(n_keys AS BIGINT) AS n_keys,
        CAST(max_cnt AS BIGINT) AS max_cnt,
        CAST(ROUND(CAST(CAST(max_cnt * 1.0 / n_rows AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS top1_share,
        CAST(ROUND(CAST(CAST(max_cnt * n_keys * 1.0 / n_rows AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS max_over_avg,
        CAST(ROUND(CAST(CAST(t10 * 1.0 / n_rows AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS top10_share
      FROM s JOIN top10 ON s.key_col = top10.key_col
      ORDER BY 1"""),
    (s, d) => {
      val li = lineitem(s, d)
      skewReport(Seq(
        ("l_orderkey", li.select(col("l_orderkey").as("k"))),
        ("l_partkey", li.select(col("l_partkey").as("k"))),
        ("l_suppkey", li.select(col("l_suppkey").as("k")))))
    })

  /** The q268 pipeline over named key frames — DiagnosticsSpec pins a
    * hand-built skewed key against a uniform one. */
  def skewReport(keys: Seq[(String, DataFrame)]): DataFrame = {
    val k = keys.map { case (name, df) =>
      df.select(lit(name).as("key_col"), col("k")) }
      .reduce(_ unionAll _)
    val c = k.groupBy(col("key_col"), col("k"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key_col")).orderBy(col("cnt").desc, col("k"))
    val s = c.groupBy(col("key_col"))
      .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_cnt"))
    val t10 = c.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10)
      .groupBy(col("key_col")).agg(sum(col("cnt")).as("t10"))
    s.join(t10, Seq("key_col"))
      .select(col("key_col"), col("n_rows").cast("long").as("n_rows"),
        col("n_keys").cast("long").as("n_keys"),
        col("max_cnt").cast("long").as("max_cnt"),
        round(col("max_cnt") * lit(1.0) / col("n_rows"), 4)
          .as("top1_share"),
        round(col("max_cnt") * col("n_keys") * lit(1.0) / col("n_rows"), 4)
          .as("max_over_avg"),
        round(col("t10") * lit(1.0) / col("n_rows"), 4).as("top10_share"))
      .orderBy(col("key_col"))
  }

  /** Per-column completeness + cardinality profile of orders — the
    * ingest contract check: row count, nulls, null %, exact distinct
    * count. Values never leave their column (no cross-type casts —
    * engine-specific number formatting can't leak into the compare);
    * the fixture is honestly null-free and the profile SAYS so. */
  val q269NullProfile = GraftQuery(
    "q269_null_profile",
    "completeness + cardinality profile per orders column",
    Some("""SELECT col AS column_name, CAST(n AS BIGINT) AS n,
        CAST(n_null AS BIGINT) AS n_null,
        CAST(ROUND(CAST(CAST(n_null * 1.0 / n AS VARCHAR)
          AS DECIMAL(38,18)), 4) AS DOUBLE) AS null_pct,
        CAST(n_distinct AS BIGINT) AS n_distinct
      FROM (
        SELECT 'o_custkey' AS col, COUNT(*) AS n,
          SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n_null,
          COUNT(DISTINCT o_custkey) AS n_distinct FROM orders
        UNION ALL
        SELECT 'o_orderdate', COUNT(*),
          SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
          COUNT(DISTINCT o_orderdate) FROM orders
        UNION ALL
        SELECT 'o_orderkey', COUNT(*),
          SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END),
          COUNT(DISTINCT o_orderkey) FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*),
          SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
          COUNT(DISTINCT o_orderpriority) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*),
          SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
          COUNT(DISTINCT o_orderstatus) FROM orders
        UNION ALL
        SELECT 'o_totalprice', COUNT(*),
          SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
          COUNT(DISTINCT o_totalprice) FROM orders)
      ORDER BY 1"""),
    (s, d) => nullProfile(orders(s, d), Seq("o_custkey", "o_orderdate",
      "o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")))

  /** The q269 pipeline over any frame and column list —
    * DiagnosticsSpec pins planted nulls and duplicate collapse. */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    cols.sorted.map { c =>
      df.agg(count(lit(1)).as("n"),
        sum(when(col(c).isNull, 1).otherwise(0)).as("n_null"),
        countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column_name"), col("n").cast("long").as("n"),
          col("n_null").cast("long").as("n_null"),
          round(col("n_null") * lit(1.0) / col("n"), 4).as("null_pct"),
          col("n_distinct").cast("long").as("n_distinct"))
    }.reduce(_ unionAll _).orderBy(col("column_name"))
  }
}
