package graft.etl

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.tools.QueryTime

/** The size bound of [[OnePartitionSort]], read off executed
  * (AQE-final) plans and job counts: it fires on a small sized input
  * and refuses everything its scaladoc rules out. */
class OnePartitionSortSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def parquet(df: DataFrame): String = {
    val p = s"${Files.createTempDirectory("graft_onepart")}/t"
    df.write.parquet(p)
    p
  }

  /** 100 rows: a key, a value and a two-element array (a few KB). */
  private lazy val small = parquet(spark.range(100).select(
    col("id").as("k"), (col("id") * 7 % 13).as("v"), array(col("id"), col("id") + 1).as("arr")))

  /** 60,000 rows of a SHA-256 hex string: a few MB of parquet. */
  private lazy val big = parquet(spark.range(0, 60000, 1, 2)
    .select(col("id"), sha2(col("id").cast("string"), 256).as("h")))

  private def dirBytes(p: String): Long =
    Files.walk(Path.of(p)).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()

  /** Collects `df`; returns the jobs the collect ran and the census of
    * its executed, now final, plan. */
  private def run(df: DataFrame): (Long, QueryTime.Census) = {
    val counter = new QueryTime.Counter(spark.sparkContext)
    try {
      val (j0, _, _) = counter.totals()
      df.collect()
      val (j1, _, _) = counter.totals()
      (j1 - j0, QueryTime.census(df.queryExecution.executedPlan))
    } finally counter.close()
  }

  private def rangeExchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = (p match {
    case s: ShuffleExchangeLike if s.outputPartitioning.isInstanceOf[RangePartitioning] => Seq(s)
    case _ => Nil
  }) ++ (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }).flatMap(rangeExchanges)

  /** The sort keeps its range exchange, and the census names `reason`. */
  private def refused(df: DataFrame, reason: String): Unit = {
    val (_, c) = run(df)
    assert(c.onePartitionSorts === 0 && c.range === 1, c)
    assert(c.refusals === Seq(reason))
  }

  test("a small scan sorts in one partition: no range exchange, one job") {
    val df = spark.read.parquet(small).orderBy(col("v").desc, col("k"))
    val (jobs, c) = run(df)
    assert(c.onePartitionSorts === 1 && c.shuffle === 0, c)
    assert(jobs === 1)
    assert(df.collect().map(r => (r.getLong(1), r.getLong(0))).toSeq ===
      (0L until 100L).map(k => (k * 7 % 13, k)).sortBy(t => (-t._1, t._2)))
  }

  test("a sort over a large scan's small aggregate is re-planned in one partition once its stage reports") {
    val df = spark.read.parquet(big).groupBy((col("id") % 10).as("d"))
      .agg(count(lit(1)).as("n")).orderBy(col("d"))
    // the scan is over the bound, so the planner's plan keeps the exchange
    assert(rangeExchanges(df.queryExecution.executedPlan).nonEmpty)
    val (jobs, c) = run(df)
    assert(c.onePartitionSorts === 1 && c.range === 0, c)
    assert(jobs === 2, "the aggregate's shuffle and the result")
  }

  test("an input over the 1 MB bound keeps the sampled multi-partition range exchange") {
    assert(dirBytes(big) > OnePartitionSort.bound(spark.sessionState.conf).get)
    val df = spark.read.parquet(big).orderBy(col("h"))
    val (jobs, c) = run(df)
    assert(c.onePartitionSorts === 0 && c.range === 1, c)
    assert(c.refusals === Seq("over bound"))
    val parts = rangeExchanges(df.queryExecution.executedPlan)
      .map(_.outputPartitioning.numPartitions)
    assert(parts.nonEmpty && parts.forall(_ > 1), parts)
    assert(jobs === 3, "the range sample, the map stage and the result")
  }

  test("a Generate under the sort is refused") {
    refused(spark.read.parquet(small).select(explode(col("arr")).as("x")).orderBy(col("x")),
      "Generate")
  }

  test("a join with no one-row side is refused; a scalar attach is not") {
    val l = spark.read.parquet(small)
    val r = spark.read.parquet(small).select(col("k").as("k2"), col("v").as("v2"))
    refused(l.join(r, col("v") === col("v2")).orderBy(col("k"), col("k2")), "join")
    val attached = l.crossJoin(r.agg(max(col("v2")).as("m"))).orderBy(col("k"))
    assert(run(attached)._2.onePartitionSorts === 1)
  }

  /** `small` renamed, to join against `small` itself. */
  private def lookup = spark.read.parquet(small).select(col("k").as("uk"), col("v").as("uv"))

  test("a join against a broadcast side with one row per key sorts in one partition") {
    // a scan knows no distinct keys, so the planner's plan refuses the
    // join; the re-plan after the broadcast reads its hash table
    val df = spark.read.parquet(small).join(broadcast(lookup), col("v") === col("uk"))
      .orderBy(col("k"))
    val (jobs, c) = run(df)
    assert(c.onePartitionSorts === 1 && c.range === 0, c)
    assert(jobs === 2, "the broadcast and the result")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(3))).toSeq ===
      (0L until 100L).map(k => (k, k * 7 % 13)))
  }

  test("a join against a broadcast side with a duplicated key keeps its range exchange") {
    val dup = lookup.union(lookup.filter(col("uk") === 5))
    val df = spark.read.parquet(small).join(broadcast(dup), col("v") === col("uk"))
      .orderBy(col("k"))
    val (jobs, c) = run(df)
    assert(c.onePartitionSorts === 0 && c.range === 1, c)
    assert(c.refusals === Seq("join"))
    assert(jobs === 4, "the broadcast, the range sample, the map stage and the result")
  }

  test("a join on an aggregate's grouping keys is re-planned in one partition through its shuffle stage") {
    val agg = spark.read.parquet(big).groupBy((col("id") % 10).as("d")).agg(count(lit(1)).as("n"))
    // `v` repeats, so only the aggregate's side is unique on the key
    val df = spark.read.parquet(small).join(agg, col("v") === col("d")).orderBy(col("k"))
    val (jobs, c) = run(df)
    assert(c.onePartitionSorts === 1 && c.range === 0, c)
    assert(jobs === 3, "the aggregate's shuffle, the broadcast and the result")
  }

  test("a left anti join sorts in one partition") {
    val df = spark.read.parquet(small).join(lookup, col("k") === col("uv"), "left_anti")
      .orderBy(col("k"))
    val (jobs, c) = run(df)
    assert(c.onePartitionSorts === 1 && c.range === 0, c)
    assert(jobs === 2, "the broadcast and the result")
    assert(df.collect().map(_.getLong(0)).toSeq === (13L until 100L))
  }

  test("a session with AQE partition coalescing off is refused") {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try refused(spark.read.parquet(small).orderBy(col("k")), "coalescing off")
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a leaf of unknown size is refused") {
    refused(spark.range(0, 100, 1, 4).toDF().orderBy(col("id").desc), "unsized Range")
  }

  test("install is idempotent, and running a catalog query installs it on a new session") {
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(OnePartitionSort))
    SparkTestSession.fixture("q01_lineitem_agg").run(fresh, SparkTestSession.Sf0001)
    OnePartitionSort.install(fresh)
    assert(fresh.experimental.extraStrategies.count(_ == OnePartitionSort) === 1)
    assert(spark.experimental.extraStrategies.count(_ == OnePartitionSort) === 1)
  }
}
