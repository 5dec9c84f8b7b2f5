package graft.model

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("spread raises a narrow frame to the session shuffle width, rows intact") {
    import spark.implicits._
    val narrow = (1 to 100).toDF("x").coalesce(1)
    assert(narrow.rdd.getNumPartitions === 1)
    val wide = Tables.spread(narrow)
    assert(wide.rdd.getNumPartitions ===
      spark.sessionState.conf.numShufflePartitions)
    assert(wide.select(sum($"x")).as[Long].head() === 5050L,
      "round-robin redistribution only — same rows")
  }

  test("keyed spread raises width without a sort pass, rows intact and balanced") {
    import spark.implicits._
    val narrow = (1 to 10000).toDF("x").coalesce(1)
    val wide = Tables.spread(narrow, col("x"))
    assert(wide.rdd.getNumPartitions ===
      spark.sessionState.conf.numShufflePartitions)
    assert(wide.select(sum($"x")).as[Long].head() === 50005000L,
      "hash redistribution only — same rows")
    // the exchange is hashpartitioning on the deterministic key, NOT
    // RoundRobinPartitioning — no sortBeforeRepartition pass
    val plan = wide.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning"), plan)
    assert(!plan.contains("roundrobin") && !plan.contains("RoundRobin"), plan)
    // distribution: no partition owns more than 4x the mean
    val sizes = wide.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(sizes.max <= 4 * (10000 / sizes.length),
      s"skewed keyed spread: ${sizes.mkString(",")}")
  }

  test("keyed spread fails loudly on a null key") {
    import spark.implicits._
    // mostly nulls: hashed as-is they would all land in one bucket
    val narrow = (1 to 1000).map(i => if (i % 10 == 0) Some(i.toLong) else None)
      .toDF("x").coalesce(1)
    val e = intercept[Exception](Tables.spread(narrow, col("x")).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("null spread key")), e)
    // the same frame without its nulls spreads as before
    assert(Tables.spread(narrow.na.drop(), col("x")).count() === 100L)
  }

  test("keyed spread is the identity at or above width and keeps pruning to key+used columns") {
    import spark.implicits._
    val width = spark.sessionState.conf.numShufflePartitions
    val wide = (1 to 100).toDF("x").repartition(width + 2)
    assert(Tables.spread(wide, col("x")) eq wide)
    val dir = java.nio.file.Files.createTempDirectory("graft_spreadkey_probe")
    val p = s"$dir/t.parquet"
    spark.range(1000).selectExpr("id", "id % 7 as k", "cast(id as string) as s")
      .coalesce(1).write.mode("overwrite").parquet(p)
    val q = Tables.spread(spark.read.parquet(p), col("id"))
      .filter(col("k") === 3).select(col("id"))
    q.collect()
    val scan = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("Scan parquet")).getOrElse("")
    assert(scan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,3)]"), scan)
    assert(scan.contains("ReadSchema: struct<id:bigint,k:bigint>"),
      s"the keyed exchange must move key+used columns only: $scan")
  }

  test("spread is the identity on a frame at or above the width") {
    import spark.implicits._
    val width = spark.sessionState.conf.numShufflePartitions
    val wide = (1 to 100).toDF("x").repartition(width + 2)
    // identity, not a fresh Repartition node: at cluster scale every
    // real scan is wider than the session width and spread must add
    // NOTHING to the plan there
    assert(Tables.spread(wide) eq wide)
  }

  test("spread never finalizes a shuffle-bearing frame's adaptive plan (round-10 AQE contract)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // The round-9 form probed .rdd.getNumPartitions unconditionally;
    // under AQE that finalizes the adaptive plan, which EXECUTES every
    // upstream shuffle stage and discards the result — a write-time
    // layout builder ran its derivation twice. The observable is
    // isFinalPlan on the input's own execution.
    val agg = (1 to 100).toDF("x")
      .groupBy(($"x" % 10).as("k")).agg(sum($"x").as("s"))
    val out = Tables.spread(agg)
    agg.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        assert(!a.isFinalPlan,
          "spread eagerly executed a shuffle-bearing input under AQE")
      case p => fail(s"expected an adaptive plan under default AQE, got $p")
    }
    // and it still lands the frame at session width with rows intact
    assert(out.rdd.getNumPartitions ===
      spark.sessionState.conf.numShufflePartitions)
    assert(out.agg(sum($"s")).as[Long].head() === 5050L)
  }

  test("spread defaults unknown nodes to the no-probe path (allowlist contract)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // MapGroups requires a shuffle but was never in the round-10
    // DENYLIST of shuffle-bearing nodes — the ADVICE gap this pins.
    // The allowlist treats any node outside the scan-rooted contract
    // (leaf/Project/Filter/Generate/SubqueryAlias) as not probe-safe,
    // so the .rdd probe must not run; same isFinalPlan observable as
    // the AQE-contract test above.
    val frame = (1 to 100).toDF("x").as[Int]
      .groupByKey(_ % 10).mapGroups((k, it) => (k, it.sum))
      .toDF("k", "s")
    val out = Tables.spread(frame)
    frame.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        assert(!a.isFinalPlan,
          "spread probed a MapGroups frame under AQE (double execution)")
      case p => fail(s"expected an adaptive plan under default AQE, got $p")
    }
    assert(out.agg(sum($"s")).as[Long].head() === 5050L)
  }

  test("atFullWidth: shuffle-bearing writes land at session width, conf restored (even on throw)") {
    import spark.implicits._
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(key, "true")
    val dir = java.nio.file.Files.createTempDirectory("graft_fullwidth")
    val p = s"$dir/t.parquet"
    // without the helper, AQE coalesces this tiny aggregate to 1 file —
    // the round-9 "inverse cliff" writer mistake the helper exists for
    val agg = (1 to 1000).toDF("x").withColumn("k", $"x" % 97)
      .groupBy($"k").agg(sum($"x").as("s"))
    Tables.atFullWidth(spark) { agg.write.mode("overwrite").parquet(p) }
    val files = new java.io.File(p).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(files === spark.sessionState.conf.numShufflePartitions,
      "the write must keep the final shuffle's full width")
    assert(spark.conf.get(key, "true") === before, "conf must be restored")
    intercept[RuntimeException] {
      Tables.atFullWidth(spark) { throw new RuntimeException("boom") }
    }
    assert(spark.conf.get(key, "true") === before,
      "conf must be restored when the body throws")
  }

  test("filter pushdown and column pruning survive the spread's Repartition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spread_probe")
    val p = s"$dir/t.parquet"
    spark.range(1000).selectExpr("id", "id % 7 as k", "cast(id as string) as s")
      .coalesce(1).write.mode("overwrite").parquet(p)
    val q = Tables.spread(spark.read.parquet(p))
      .filter(col("k") === 3).select(col("id"))
    q.collect()
    val scan = q.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("Scan parquet")).getOrElse("")
    assert(scan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,3)]"), scan)
    assert(scan.contains("ReadSchema: struct<id:bigint,k:bigint>"),
      s"the exchange must move pruned columns only: $scan")
  }
}
