package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Reference-quirk semantics locked in by SURVEY.md §5.2.2 / §7.3. */
class EtlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("hourBucket preserves reference boundaries incl. hour==8 quirk") {
    // ref 流行音乐趋势预测.md:908-919: (8,12]→0, (12,18]→1, (18,23]→2, else 3
    val got = Seq(0, 7, 8, 9, 12, 13, 18, 19, 23)
      .toDF("h")
      .select(col("h"), Pivot.hourBucket(col("h")).as("b"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got === Map(0 -> 3, 7 -> 3, 8 -> 3, 9 -> 0, 12 -> 0,
      13 -> 1, 18 -> 1, 19 -> 2, 23 -> 2))
  }

  test("dayofweek keeps the Calendar 1=Sunday convention") {
    // ref 流行音乐趋势预测.md:624-631 (Calendar.DAY_OF_WEEK)
    val got = Seq("2024-01-07", "2024-01-08", "2024-01-13")
      .toDF("d").select(dayofweek(to_date(col("d")))).as[Int].collect()
    assert(got.toSeq === Seq(1, 2, 7)) // Sun, Mon, Sat
  }

  private def daily = Seq(
    // (key, ds, y) with a calendar gap at 2024-01-03 for key "a"
    ("a", "2024-01-01", 10L), ("a", "2024-01-02", 20L), ("a", "2024-01-04", 40L),
    ("b", "2024-01-01", 1L), ("b", "2024-01-02", 2L))
    .toDF("key", "ds", "y").withColumn("ds", to_date(col("ds")))

  test("shiftJoin is gap-exact and zero-fills (§1.3)") {
    val out = LagFeatures.shiftJoin(daily, "key", "ds", 1, Seq("y"), "_lag")
      .orderBy("key", "ds")
      .select("key", "ds", "y", "y_lag").collect()
    val m = out.map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(3)).toMap
    assert(m(("a", "2024-01-01")) === 0L) // no previous day → zero-fill
    assert(m(("a", "2024-01-02")) === 10L)
    // gap: 01-03 absent, so 01-04's calendar-yesterday is missing → 0
    assert(m(("a", "2024-01-04")) === 0L)
    assert(m(("b", "2024-01-02")) === 1L)
  }

  test("windowLag steps over gaps (documented divergence from shiftJoin)") {
    val out = LagFeatures.windowLag(daily, "key", "ds", 1, Seq("y"), "_lag")
    val m = out.collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(3)).toMap
    // window form: previous *present* row, not previous calendar day
    assert(m(("a", "2024-01-04")) === 20L)
  }

  test("shiftJoin == windowLag on gap-free ranges (§5.2.3 property)") {
    val dense = Seq(
      ("a", "2024-01-01", 1L), ("a", "2024-01-02", 2L), ("a", "2024-01-03", 3L))
      .toDF("key", "ds", "y").withColumn("ds", to_date(col("ds")))
    val a = LagFeatures.shiftJoin(dense, "key", "ds", 1, Seq("y"), "_l")
      .select("key", "ds", "y", "y_l").collect().toSet
    val b = LagFeatures.windowLag(dense, "key", "ds", 1, Seq("y"), "_l")
      .select("key", "ds", "y", "y_l").collect().toSet
    assert(a === b)
  }

  test("shiftJoin negative days attaches future labels (lead)") {
    val out = LagFeatures.shiftJoin(daily, "key", "ds", -2, Seq("y"), "_ahead")
      .select("key", "ds", "y", "y_ahead") // join puts key cols first
    val m = out.collect()
      .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(3)).toMap
    assert(m(("a", "2024-01-02")) === 40L) // 01-04's value, 2 days ahead
    assert(m(("a", "2024-01-04")) === 0L)  // no 01-06 → zero-fill
  }

  test("Telemetry.observeQuality yields exact metrics from ONE action") {
    import spark.implicits._
    val df = Seq((1L, Some(2.5)), (2L, None), (3L, Some(-1.0)), (4L, Some(0.5)))
      .toDF("id", "v")
    val (inst, obs) = Telemetry.observeQuality(df, "t", Seq("id"))
    // the instrumented frame is row-identical to the input
    assert(inst.collect().length === 4)
    val m = obs.get
    assert(m("n_rows") === 4L)
    assert(m("n_null_v") === 1L && m("n_null_id") === 0L)
    assert(m("min_id") === 1L && m("max_id") === 4L && m("sum_id") === 10L)
  }

  test("Telemetry.assertQuality gates on observed null fractions") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Double]), (2L, Some(1.0)))
      .toDF("id", "v")
    val (inst, obs) = Telemetry.observeQuality(df, "g", Seq())
    inst.write.format("noop").mode("overwrite").save()
    // v is 50% null: a 0.6 gate passes and returns the metrics…
    val m = Telemetry.assertQuality(obs, Seq("v"), 0.6)
    assert(m("n_rows") === 2L)
    // …and a 0.4 gate fails fast
    val (inst2, obs2) = Telemetry.observeQuality(df, "g2", Seq())
    inst2.write.format("noop").mode("overwrite").save()
    val e = intercept[IllegalArgumentException](
      Telemetry.assertQuality(obs2, Seq("v"), 0.4))
    assert(e.getMessage.contains("null fraction"))
  }

  /** AQE would coalesce these small sorts into one partition; with
    * coalescing off the sort keeps the session's 4 partitions, so the
    * cross-partition offsets decide the ranks. */
  private def uncoalesced[T](body: => T): T = {
    val conf = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.getOption(conf)
    spark.conf.set(conf, "false")
    try body
    finally was.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("GlobalRank assigns the exact total-order rank across range partitions") {
    uncoalesced {
      // shuffled unique keys over more rows than partitions, seeded: a
      // failure must reproduce the exact partition layout
      val keys = new scala.util.Random(42).shuffle((1 to 103).toList)
      val df = keys.map(k => (k, s"v$k")).toDF("k", "v").repartition(7)
      val ranked = GlobalRank.withGlobalId(df, Seq(col("k")))
      assert(ranked.rdd.getNumPartitions > 1)
      val out = ranked.collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      (1 to 103).foreach(k => assert(out(k) === k.toLong,
        s"key $k got rank ${out(k)}"))
    }
  }

  test("withPerKeyId equals the per-key window rank under key skew") {
    uncoalesced {
      // heavily skewed keys (80/20/3 rows) shuffled, so the sort splits
      // the big key across several partitions and per-key offsets
      // genuinely matter
      val rows = new scala.util.Random(42).shuffle(
        (1 to 80).map(v => (0, v * 7 % 97)) ++   // distinct order values
          (1 to 20).map(v => (1, v)) ++
          (1 to 3).map(v => (2, v)))
      val df = rows.toDF("bucket", "v").repartition(5)
      val ranked = GlobalRank.withPerKeyId(df, col("bucket"), Seq(col("v")))
        .withColumn("pid", spark_partition_id())
      val out = ranked.collect()
      assert(out.filter(_.getInt(0) == 0).map(_.getInt(3)).distinct.length > 1,
        "bucket 0 must span partitions")
      val got = out.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val expected = rows.groupBy(_._1).flatMap { case (k, vs) =>
        vs.map(_._2).sorted.zipWithIndex.map { case (v, i) =>
          (k, v) -> (i + 1L) }
      }
      assert(got === expected)
    }
  }

  test("GlobalRank over a one-partition input starts no count job") {
    val counter = new graft.tools.QueryTime.Counter(spark.sparkContext)
    try {
      // a single-partition child already satisfies the sort's ordered
      // distribution: no exchange, so building the rank runs nothing
      val df = spark.range(0, 50, 1, 1).select(col("id"))
      val (j0, _, _) = counter.totals()
      val ranked = GlobalRank.withGlobalId(df, Seq(col("id").desc))
      val (j1, _, _) = counter.totals()
      val out = ranked.collect().map(r => r.getLong(0) -> r.getLong(1))
      val (j2, _, _) = counter.totals()
      assert(j1 - j0 === 0L, "building a one-partition rank starts no job")
      assert(j2 - j1 === 1L, "the collect is the only job")
      assert(out.toMap === (0L until 50L).map(i => i -> (50L - i)).toMap)
    } finally counter.close()
  }

  test("GlobalRank leaves no persisted RDD behind") {
    uncoalesced {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = (1 to 40).map(i => (i % 3, i)).toDF("g", "v").repartition(3)
      GlobalRank.withGlobalId(df, Seq(col("v"))).collect()
      GlobalRank.withPerKeyId(df, col("g"), Seq(col("v"))).collect()
      assert(spark.sparkContext.getPersistentRDDs.keySet === before)
    }
  }
}
