package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.model.Tables

/** Hand-graph pins for the q167 propagation round — the oracle row
  * proves the full 2-round query on the fixture; these pin the mode
  * semantics (count-majority, deterministic min-label tie-break) on
  * graphs small enough to verify by eye.
  */
class AnalyticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("propagateMode takes the neighbourhood majority and breaks ties to the smaller label") {
    import spark.implicits._
    // p1: labels {5, 7, 7} -> majority 7; p2: {5, 7} -> tie -> 5;
    // p3: single neighbour {9} -> 9
    val edges = Seq(
      (1L, 101L, 5L), (2L, 101L, 7L), (3L, 101L, 7L),
      (1L, 102L, 5L), (2L, 102L, 7L),
      (4L, 103L, 9L))
      .toDF("s", "p", "lab")
    val out = AnalyticsQueries.propagateMode(edges, col("p"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(101L) === ((7L, 2L)))
    assert(out(102L) === ((5L, 1L)))
    assert(out(103L) === ((9L, 1L)))
  }

  test("propagateMode counts parallel edges once each (vote weight = edge multiplicity)") {
    import spark.implicits._
    // two distinct suppliers with label 5 vs three with label 8
    val edges = Seq(
      (1L, 200L, 5L), (2L, 200L, 5L),
      (3L, 200L, 8L), (4L, 200L, 8L), (5L, 200L, 8L))
      .toDF("s", "p", "lab")
    val out = AnalyticsQueries.propagateMode(edges, col("p")).collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 8L && out.head.getLong(2) === 3L)
  }

  test("propagateMode fails on a negative label instead of packing it") {
    import spark.implicits._
    val edges = Seq((1L, 101L, 5L), (2L, 101L, -1L)).toDF("s", "p", "lab")
    val e = intercept[Exception](
      AnalyticsQueries.propagateMode(edges, col("p")).collect())
    assert(e.getMessage.contains("label outside [0, 2^32): -1"), e.getMessage)
  }

  test("propagateMode fails on a label at 2^32 instead of packing it") {
    import spark.implicits._
    val edges = Seq((1L, 101L, 5L), (2L, 101L, 1L << 32)).toDF("s", "p", "lab")
    val e = intercept[Exception](
      AnalyticsQueries.propagateMode(edges, col("p")).collect())
    assert(e.getMessage.contains("label outside [0, 2^32): 4294967296"),
      e.getMessage)
  }

  test("propagateMode fails on a vote count of 2^31 instead of packing it") {
    // 2^31 edges from one node to one label: generated rows counted
    // as they stream, never held anywhere
    val edges = spark.range(0, 1L << 31, 1, 4)
      .select(col("id").as("s"), lit(7L).as("p"), lit(3L).as("lab"))
    val e = intercept[Exception](
      AnalyticsQueries.propagateMode(edges, col("p")).collect())
    assert(e.getMessage.contains("vote count at or above 2^31: 2147483648"),
      e.getMessage)
  }

  test("q189 integer allocations sum exactly to the 1000 budget") {
    val out = AnalyticsQueries.q189NeymanAlloc
      .run(spark, graft.SparkTestSession.Sf0001).collect()
    assert(out.map(_.getLong(4)).sum === 1000L)
    // largest-remainder never moves an allocation by more than 1
    out.foreach { r =>
      assert(math.abs(r.getLong(4) - r.getDouble(3)) < 1.0 + 1e-9)
    }
  }

  test("q192 KS statistic is a valid sup-norm: D in [0,1], n0+n1 covers the stratum") {
    val sf = graft.SparkTestSession.Sf0001
    val out = AnalyticsQueries.q192KsTest.run(spark, sf).collect()
    val totals = graft.model.Tables.events(spark, sf)
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getDouble(3) >= 0 && r.getDouble(3) <= 1)
      assert(r.getLong(1) + r.getLong(2) === totals(r.getString(0)))
    }
  }

  test("q194 burstiness lands in (-1, 1) and CV is sigma/mu") {
    val out = AnalyticsQueries.q194Interarrival
      .run(spark, graft.SparkTestSession.Sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (cv, b) = (r.getDouble(3), r.getDouble(4))
      assert(b > -1 && b < 1, s"user ${r.getLong(0)} burstiness $b")
      // B = (cv-1)/(cv+1) algebraically; 4dp rounding on each side
      assert(math.abs(b - (cv - 1) / (cv + 1)) < 5e-4)
    }
  }

  test("q196 transition probabilities row-normalize to 1 and counts cover all steps") {
    val sf = graft.SparkTestSession.Sf0001
    val out = AnalyticsQueries.q196MarkovTransitions.run(spark, sf).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).foreach { case (from, rows) =>
      val psum = rows.map(_.getDouble(3)).sum
      assert(math.abs(psum - 1.0) < 5e-3, s"$from row sums to $psum")
    }
    // total transitions = total events - distinct users (one lag-null each)
    val ev = graft.model.Tables.events(spark, sf)
    val expected = ev.count() - ev.select(col("user_id")).distinct().count()
    assert(out.map(_.getLong(2)).sum === expected)
  }

  test("q195 session paths cover exactly the q37 session count") {
    val sf = graft.SparkTestSession.Sf0001
    // top-20 is a prefix; compare TOTAL sessions via the same pipeline
    // without the limit against q37's independent rollup
    val sessions = ExtraQueries.q37Sessionize.run(spark, sf).count()
    val paths = AnalyticsQueries.q195EventPaths.run(spark, sf)
      .agg(sum(col("n_sessions"))).collect()(0).getLong(0)
    assert(paths <= sessions)
    assert(paths > 0)
  }

  test("q201 CUSUM trips on a planted level shift and stays quiet on the fixture") {
    import spark.implicits._
    // 30 days at level 10, then 10 days shifted to 13 (~1.5 sd of the
    // deterministic day-to-day wobble): the point tests see weak
    // evidence per day, the cumulative chart must alarm in the tail
    val shifted = (1 to 40).map { day =>
      val base = if (day <= 30) 10.0 else 13.0
      val d0 = java.time.LocalDate.of(2024, 1, 1).plusDays(day - 1)
      ("drift", java.sql.Timestamp.valueOf(s"$d0 00:00:00"),
        base + 0.5 * math.sin(day.toDouble))
    }.toDF("event_type", "ts", "value")
    val out = AnalyticsQueries.cusumDaily(shifted).collect()
      .sortBy(r => r.getDate(1).toString)
    assert(out.take(30).forall(_.getInt(3) === 0),
      "pre-shift days must not alarm")
    assert(out.takeRight(5).exists(_.getInt(3) === 1),
      "the shifted tail must trip the alarm")
    // fixture: stationary series, no alarms (matches the oracle rows)
    val fx = AnalyticsQueries.q201Cusum
      .run(spark, graft.SparkTestSession.Sf0001).collect()
    assert(fx.map(_.getInt(3)).sum === 0)
  }

  test("q190 residuals average to zero within each (event_type, dow) cell") {
    val out = AnalyticsQueries.q190SeasonalDecompose
      .run(spark, graft.SparkTestSession.Sf0001).collect()
    out.groupBy(r => (r.getString(0), r.getInt(2))).foreach {
      case (cell, rows) =>
        val meanResid = rows.map(_.getDouble(5)).sum / rows.size
        assert(math.abs(meanResid) < 1e-3, s"$cell mean residual $meanResid")
    }
  }

  test("q205 Spearman: monotone 1, anti-monotone -1, tied case matches the textbook midrank value") {
    import spark.implicits._
    val rows =
      (1 to 10).map(i => ("mono", i, i * 3)) ++
        (1 to 10).map(i => ("anti", i, 33 - 3 * i)) ++
        // tied case, hand-computed: rq = (1, 2.5, 2.5, 4),
        // rd = (1, 2, 3.5, 3.5) -> Pearson = 1.25/1.5 = 0.8333
        Seq(("tied", 1, 1), ("tied", 2, 2), ("tied", 2, 3), ("tied", 3, 3))
    val out = AnalyticsQueries.spearman(rows.toDF("flag", "q", "dc"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("mono") === 1.0)
    assert(out("anti") === -1.0)
    assert(out("tied") === 0.8333)
  }

  test("q206 Mann-Whitney: hand-computed U and tie-corrected z on A={1,2,3} vs B={2,3,4}") {
    import spark.implicits._
    // midranks over the pooled sample: 1->1, 2->2.5, 3->4.5, 4->6;
    // R1 = 8, U = 8 - 6 = 2; ties sum = 12;
    // sigma^2 = (9/12)*(7 - 12/30) = 4.95 -> z = -2.5/2.224860 = -1.123667
    val in = Seq((1, true), (2, true), (3, true),
      (2, false), (3, false), (4, false)).toDF("v", "is_a")
    val r = AnalyticsQueries.mannWhitney(in).collect()(0)
    assert(r.getLong(0) === 3L && r.getLong(1) === 3L)
    assert(r.getDouble(2) === 2.0)
    assert(r.getDouble(3) === -1.1237)
    assert(r.getInt(4) === 0)
  }

  test("q208 Theil-Sen: a planted outlier day cannot move the median slope off the clean trend") {
    import spark.implicits._
    // clean trend v = 2t + 5 over 21 days, except day 11 spikes to 500:
    // OLS tilts toward the spike; the pairwise-slope median stays at
    // exactly 2 (a single bad day corrupts < half of all pairs) and the
    // residual median keeps the intercept at exactly 5
    val ev = (0 until 21).map { t =>
      val d0 = java.time.LocalDate.of(2024, 3, 1).plusDays(t)
      val v = if (t == 10) 500.0 else 2.0 * t + 5.0
      ("trend", java.sql.Timestamp.valueOf(s"$d0 12:00:00"), v)
    }.toDF("event_type", "ts", "value")
    val r = AnalyticsQueries.theilSen(ev).collect()(0)
    assert(r.getLong(1) === 21L && r.getLong(2) === 210L)
    // t is epoch days, so the intercept is at 1970-01-01: v = 2t + 5
    // with t0 = epochDay(2024-03-01) gives intercept 5 - 2*t0... the
    // pin uses the slope (absolute) and re-anchored intercept
    assert(r.getDouble(3) === 2.0, s"slope ${r.getDouble(3)}")
    val t0 = java.time.LocalDate.of(2024, 3, 1).toEpochDay.toDouble
    assert(r.getDouble(4) === BigDecimal(5.0 - 2.0 * t0 + 1e-9)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
      s"intercept ${r.getDouble(4)}")
  }

  test("q209 Gini: 0 for perfect equality, (n-1)/n for total concentration") {
    import spark.implicits._
    val equal = (1 to 8).map(i => (i.toLong, 250.0)).toDF("o_custkey", "o_totalprice")
    val g1 = AnalyticsQueries.gini(equal).collect()(0)
    assert(g1.getLong(0) === 8L && g1.getDouble(2) === 0.0)
    val concentrated = ((1 to 4).map(i => (i.toLong, 0.0)) :+ (5L, 1000.0))
      .toDF("o_custkey", "o_totalprice")
    val g2 = AnalyticsQueries.gini(concentrated).collect()(0)
    assert(g2.getDouble(2) === 0.8, s"gini ${g2.getDouble(2)}") // (5-1)/5
  }

  test("q210 mutual information: 0 for independence, H for deterministic dependence") {
    import spark.implicits._
    // 4 types x 7 weekdays, every cell count 3 -> independent: MI = 0
    val types = Seq("a", "b", "c", "d")
    val indep = (for {
      t <- types; d <- 0 until 7; _ <- 1 to 3
    } yield (t, java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString + " 09:00:00")))
      .toDF("event_type", "ts")
    val r1 = AnalyticsQueries.mutualInfo(indep).collect()(0)
    assert(r1.getDouble(1) === 0.0, s"independent MI ${r1.getDouble(1)}")
    // type == f(weekday), 4 types over 4 distinct days equally ->
    // MI = H(type) = ln 4, NMI = ln4/sqrt(ln4 * ln4) = 1
    val dep = (for {
      (t, i) <- types.zipWithIndex; _ <- 1 to 5
    } yield (t, java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i).toString + " 09:00:00")))
      .toDF("event_type", "ts")
    val r2 = AnalyticsQueries.mutualInfo(dep).collect()(0)
    val ln4 = BigDecimal(math.log(4.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r2.getDouble(1) === ln4, s"dependent MI ${r2.getDouble(1)}")
    assert(r2.getDouble(4) === 1.0, s"NMI ${r2.getDouble(4)}")
  }

  test("q210 mutual information: null type or weekday feeds n and its marginal, not MI; no rows gives nulls") {
    import spark.implicits._
    def at(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(day).toString + " 09:00:00")
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def row(ev: Seq[(String, java.sql.Timestamp)]) = {
      val r = AnalyticsQueries.mutualInfo(ev.toDF("event_type", "ts")).collect()(0)
      (0 until 5).map(i => if (r.isNullAt(i)) None else Some(r.get(i)))
    }
    def expected(n: Long, mi: Double, hx: Double, hy: Double) =
      Seq(Some(n), Some(r6(mi)), Some(r6(hx)), Some(r6(hy)),
        Some(r6(mi / math.sqrt(hx * hy))))
    val ln = math.log _
    // a,a @day0; b,b @day1; null @day0: n = 5, cx = {a 2, b 2, null 1},
    // cy = {day0 3, day1 2}; MI sums the two complete cells only
    val nullType = Seq(("a", at(0)), ("a", at(0)), ("b", at(1)), ("b", at(1)),
      (null, at(0)))
    assert(row(nullType) === expected(5L,
      0.4 * ln(2.0 * 5 / (2 * 3)) + 0.4 * ln(2.0 * 5 / (2 * 2)),
      -(0.4 * ln(0.4) + 0.4 * ln(0.4) + 0.2 * ln(0.2)),
      -(0.6 * ln(0.6) + 0.4 * ln(0.4))))
    // a,a @day0; a,a @null; b @day1: n = 5, cx = {a 4, b 1},
    // cy = {day0 2, day1 1, null 2}
    val nullTs = Seq(("a", at(0)), ("a", at(0)), ("a", null), ("a", null),
      ("b", at(1)))
    assert(row(nullTs) === expected(5L,
      0.4 * ln(2.0 * 5 / (4 * 2)) + 0.2 * ln(1.0 * 5 / (1 * 1)),
      -(0.8 * ln(0.8) + 0.2 * ln(0.2)),
      -(0.4 * ln(0.4) + 0.2 * ln(0.2) + 0.4 * ln(0.4))))
    // no complete cell: MI is null (the oracle's MI join is empty), n
    // still counts both events, and each entropy is of one value
    assert(row(Seq(("a", null), ("a", null))) ===
      Seq(Some(2L), None, Some(0.0), Some(0.0), None))
    assert(row(Seq.empty) === Seq.fill(5)(None))
  }

  test("q211 Benford: integer-exact digit binning at power-of-ten boundaries, hand chi2") {
    import spark.implicits._
    // 999.995 -> cents 100000 -> digit 1 (the boundary a log10-floor
    // could misbin); 10.00 -> 1000 -> 1; 99.99 -> 9999 -> 9
    val ord = Seq(999.995, 10.00, 99.99, 200.0, 0.30, 3.33, 85.0, 123.45)
      .zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("o_custkey", "o_totalprice").select(col("o_totalprice"))
    val out = AnalyticsQueries.benford(ord).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(4)))).toMap
    // digits: 1 (999.995), 1 (10.00), 9 (99.99), 2 (200.0), 3 (0.30),
    // 3 (3.33), 8 (85.0), 1 (123.45)
    assert(out.keySet === Set(1, 2, 3, 8, 9))
    assert(out(1)._1 === 3L && out(3)._1 === 2L && out(9)._1 === 1L)
    // hand chi2 over the observed digit set
    val n = 8.0
    val obs = Map(1 -> 3.0, 2 -> 1.0, 3 -> 2.0, 8 -> 1.0, 9 -> 1.0)
    val chi2 = obs.map { case (d, c) =>
      val e = n * math.log10(1.0 + 1.0 / d)
      (c - e) * (c - e) / e
    }.sum
    val expected = BigDecimal(chi2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1)._2 === expected, s"chi2 ${out(1)._2} != $expected")
  }

  test("q212 attribution: hand path with 7-day cutoff and endpoint tie split") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-10 12:00:00"), "purchase"),
      (1L, ts("2024-01-09 18:00:00"), "click"),  // ties the last-touch...
      (1L, ts("2024-01-09 18:00:00"), "view"),   // ...with this one
      (1L, ts("2024-01-05 09:00:00"), "view"),   // the first touch
      (1L, ts("2024-01-01 00:00:00"), "click"),  // outside the 7d window
      (3L, ts("2024-01-02 08:00:00"), "click"))  // no purchase -> no credit
      .toDF("user_id", "ts", "event_type")
    val out = AnalyticsQueries.attribution(ev).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // k = 3 in-window touches; first = the lone 01-05 view; last =
    // the 18:00 tie split 0.5/0.5
    assert(out("click") === ((1L, 0.3333, 0.0, 0.5)))
    assert(out("view") === ((2L, 0.6667, 1.0, 0.5)))
    assert(out.size === 2, s"unexpected channels: ${out.keySet}")
  }

  test("q213 readability: hand-counted two-sentence paragraph and the vowelless floor") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The cat sat. The dog ran fast!"),
      (2L, "xyz 123"))
      .toDF("doc_id", "text")
    val out = graft.queries.TextQueries.readability(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    // 7 words, 2 sentences, 7 vowel groups:
    // flesch = 206.835 - 1.015*3.5 - 84.6*1 = 118.6825
    // fk = 0.39*3.5 + 11.8*1 - 15.59 = -2.425
    assert(out(1L) === ((7L, 2L, 7L, 118.6825, -2.425)))
    // both tokens vowelless -> floored to one syllable each; no
    // terminator -> sentence floor engages
    assert(out(2L)._1 === 2L && out(2L)._2 === 1L && out(2L)._3 === 2L)
  }

  test("q214 ACF: an alternating series has exact negative lag-1/positive lag-2 ACF and rejects white noise") {
    import spark.implicits._
    val ev = (0 until 30).map { t =>
      val d0 = java.time.LocalDate.of(2024, 5, 1).plusDays(t)
      ("osc", java.sql.Timestamp.valueOf(s"$d0 01:00:00"),
        if (t % 2 == 0) 10.0 else -10.0)
    }.toDF("event_type", "ts", "value")
    val out = AnalyticsQueries.acfLjungBox(ev).collect()
      .map(r => r.getInt(1) -> ((r.getDouble(2), r.getInt(4)))).toMap
    // mean 0, ss = 30*100; lag1: 29 products of -100 -> -29/30;
    // lag2: 28 products of +100 -> +28/30 — exact double arithmetic
    assert(out(1)._1 === BigDecimal(-29.0 / 30)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(2)._1 === BigDecimal(28.0 / 30)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out.size === 7)
    assert(out.values.forall(_._2 === 1), "oscillation must reject white noise")
  }

  test("q207 Kaplan-Meier: textbook product-limit curve with censoring") {
    import spark.implicits._
    // five users, observation ends 2024-02-01 (user E's last day):
    //   A, B churn at lifetime 2; C churns at 5; D censored at 5
    //   (last day inside the 7-day activity horizon); E censored at 31
    // K-M: S(2) = 1 - 2/5 = 0.6; S(5) = 0.6 * (1 - 1/3) = 0.4; the
    // censor-only time 31 must NOT move the curve
    def ev(u: Long, f: String, l: String) = Seq(
      (u, java.sql.Timestamp.valueOf(s"$f 10:00:00")),
      (u, java.sql.Timestamp.valueOf(s"$l 10:00:00")))
    val events = (
      ev(1, "2024-01-01", "2024-01-03") ++ // A: t=2, churn
        ev(2, "2024-01-02", "2024-01-04") ++ // B: t=2, churn
        ev(3, "2024-01-10", "2024-01-15") ++ // C: t=5, churn
        ev(4, "2024-01-26", "2024-01-31") ++ // D: t=5, censored
        ev(5, "2024-01-01", "2024-02-01")    // E: t=31, censored, sets end
      ).toDF("user_id", "ts")
    val out = AnalyticsQueries.kaplanMeier(events).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    assert(out.toSeq === Seq(
      (2, 5L, 2L, 0L, 0.6),
      (5, 3L, 1L, 1L, 0.4),
      (31, 1L, 0L, 1L, 0.4)))
  }

  test("hits: hand-traced 2 rounds on a 3-node bipartite graph") {
    import spark.implicits._
    // s1->{p1,p2}, s2->{p1}:
    //  a1 ∝ indegree → p1 2/3, p2 1/3
    //  h1: s1 = 1, s2 = 2/3 → L1 → s1 3/5, s2 2/5
    //  a2: p1 = 1, p2 = 3/5 → L1 → p1 5/8, p2 3/8
    //  h2: s1 = 1, s2 = 5/8 → L1 → s1 8/13, s2 5/13
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L)).toDF("s", "p")
    val (hub, auth) = AnalyticsQueries.hits(edges, rounds = 2)
    val h = hub.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a = auth.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(h(1L) - 8.0 / 13) < 1e-12, s"h1 ${h(1L)}")
    assert(math.abs(h(2L) - 5.0 / 13) < 1e-12, s"h2 ${h(2L)}")
    assert(math.abs(a(1L) - 5.0 / 8) < 1e-12, s"a1 ${a(1L)}")
    assert(math.abs(a(2L) - 3.0 / 8) < 1e-12, s"a2 ${a(2L)}")
    // both sides stay L1-normalized after every round
    assert(math.abs(h.values.sum - 1.0) < 1e-12)
    assert(math.abs(a.values.sum - 1.0) < 1e-12)
  }

  test("q235 winsorized: the clamp kills the outlier the mean inherits") {
    import spark.implicits._
    // cents 1..20 + outlier 1000: p05 lands exactly on 2 (h = 0.05·20
    // = 1.0), p95 on 20; mean 1210/21 = 57.6190; winsorize clamps
    // 1→2 and 1000→20 → 231/21 = 11; trim keeps 2..20 → 209/19 = 11
    val in = ((1L to 20L) :+ 1000L).map(("A", _)).toDF("flag", "cents")
    val r = AnalyticsQueries.winsorized(in).collect().head
    assert(r.getLong(1) === 21L)
    assert(r.getDouble(2) === 0.02)   // p05 dollars
    assert(r.getDouble(3) === 0.2)    // p95 dollars
    assert(r.getDouble(4) === 0.5762) // raw mean dragged by the outlier
    assert(r.getDouble(5) === 0.11)   // winsorized
    assert(r.getDouble(6) === 0.11)   // trimmed
    assert(r.getLong(7) === 19L)      // n_kept
  }

  test("q235's 100 TB fence swap is executed: approx_percentile fences track exact within 1%") {
    // the SCALING row says "swap percentile → approx_percentile at
    // scale"; this executes the swap on the real fixture and measures
    // the drift it would introduce — fences within 1% relative, the
    // winsorized mean within 0.1% (the clamp only touches the tails)
    val li = Tables.lineitem(spark, SparkTestSession.Sf0001)
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
      .localCheckpoint(true)
    val exact = AnalyticsQueries.winsorized(li).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3),
        r.getDouble(5))).toMap
    val approx = li.groupBy(col("flag"))
      .agg(expr("approx_percentile(cents, 0.05, 10000)").as("p05"),
        expr("approx_percentile(cents, 0.95, 10000)").as("p95"))
    val wins = li.join(broadcast(approx), Seq("flag"))
      .groupBy(col("flag"))
      .agg(avg(least(greatest(col("cents"), col("p05")), col("p95")))
        .as("wc"))
      .join(approx, Seq("flag"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(2).toDouble / 100.0, r.getLong(3).toDouble / 100.0,
          r.getDouble(1) / 100.0)).toMap
    for ((flag, (p05, p95, wm)) <- exact) {
      val (a05, a95, awm) = wins(flag)
      assert(math.abs(a05 - p05) / p05 < 0.01, s"$flag p05 $a05 vs $p05")
      assert(math.abs(a95 - p95) / p95 < 0.01, s"$flag p95 $a95 vs $p95")
      assert(math.abs(awm - wm) / wm < 0.001, s"$flag wins $awm vs $wm")
    }
  }

  test("q246 shapley: hand 2-channel game, negative marginals, efficiency") {
    import spark.implicits._
    def t(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // v({click}) = 1 (u1,u2), v({view}) = 0 (u3,u4),
    // v({click,view}) = .5 (u5 converts in 3d, u6 in 19d)
    val ev = Seq(
      (1L, "click", t(1)), (1L, "purchase", t(2)),
      (2L, "click", t(1)), (2L, "purchase", t(2)),
      (3L, "view", t(1)), (4L, "view", t(1)),
      (5L, "click", t(1)), (5L, "view", t(1)), (5L, "purchase", t(2)),
      (6L, "click", t(1)), (6L, "view", t(1)), (6L, "purchase", t(20)))
      .toDF("user_id", "event_type", "ts")
    val got = AnalyticsQueries.shapleyAttribution(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // click: w0·(1−0) + w1·(.5−0) = .25 + 1/24 = .2916667
    assert(got("click")._1 === 4L)
    assert(math.abs(got("click")._2 - (0.25 + 1.0 / 24)) < 1e-12)
    // view's marginal on top of click is NEGATIVE: (1/12)(.5−1)
    assert(math.abs(got("view")._2 - (-1.0 / 24)) < 1e-12)
    // absent channels: only unobserved-set marginals → −1/12 − 1/24
    assert(math.abs(got("signup")._2 - (-0.125)) < 1e-12)
    assert(math.abs(got("error")._2 - (-0.125)) < 1e-12)
    // efficiency: Σ shapley = v(full) − v(∅) = 0 − 0 under the
    // unobserved-as-0 convention
    assert(math.abs(got.values.map(_._2).sum) < 1e-12)

    // BIT-exactness pin (round 11): the emission promises a
    // deterministic ascending-mask left-fold from a 0.0 init — the
    // oracle replays the same sequence with list_reduce, so a revert
    // to a plain sum(term) (whose partial-aggregation order is
    // engine- and width-dependent) must redden HERE, not wait for
    // the trailing-ulp dust to split at the gate. Replicate the
    // exact IEEE op sequence and compare raw bits.
    val w = Map(0 -> 0.25, 1 -> 0.08333333333333333,
      2 -> 0.08333333333333333, 3 -> 0.25)
    val v = Map(1 -> 1.0, 2 -> 0.0, 3 -> 0.5) // the planted game's v(S)
    def foldShap(bit: Int): Double =
      (0 until 16).filter(s => (s & bit) == 0).foldLeft(0.0) { (acc, s) =>
        acc + w(Integer.bitCount(s)) *
          (v.getOrElse(s | bit, 0.0) - v.getOrElse(s, 0.0))
      }
    for ((ch, bit) <- Seq("click" -> 1, "view" -> 2, "signup" -> 4,
        "error" -> 8))
      assert(java.lang.Double.doubleToRawLongBits(got(ch)._2) ===
        java.lang.Double.doubleToRawLongBits(foldShap(bit)),
        s"$ch shapley is not the exact ascending-mask fold: " +
          s"${got(ch)._2} vs ${foldShap(bit)}")
  }

  test("q245 time-to-convert: at-or-after convention and hand quantiles") {
    import spark.implicits._
    def t(day: Int, h: Int = 12) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val ev = Seq(
      // u1: signs day 1, converts day 3 → 2 days
      (1L, "signup", t(1)), (1L, "purchase", t(3)),
      // u2: signs day 1, converts day 5 → 4 days
      (2L, "signup", t(1)), (2L, "purchase", t(5)),
      // u3: signs day 1, never converts — must still count in cohort
      (3L, "signup", t(1)), (3L, "view", t(2)),
      // u4: only purchase PREDATES signup — unconverted, not dropped
      (4L, "purchase", t(1)), (4L, "signup", t(2)),
      // u5: pre-signup purchase is ignored, later one counts → 1 day
      (5L, "purchase", t(1)), (5L, "signup", t(2)), (5L, "purchase", t(3)))
      .toDF("user_id", "event_type", "ts")
    val got = AnalyticsQueries.timeToConvert(ev).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // cohort day 1: u1, u2, u3 → 3 signups, 2 conversions,
    // median of {2, 4} = 3.0
    assert(got("2024-01-01") === ((3L, 2L, 0.6667, 3.0)))
    // cohort day 2: u4 (unconverted — NULL days) + u5 (1 day)
    assert(got("2024-01-02") === ((2L, 1L, 0.5, 1.0)))
  }

  test("q244 PPR: hand trace, mass conservation, teleport locality") {
    import spark.implicits._
    // bipartite: s0–{p1, p3}, s2–{p3} (even=supplier, odd=part);
    // hub = node 0 (outdeg 2). Hand rounds:
    //   it1: pr(1)=.425, pr(3)=.425, pr(0)=.15, pr(2)=0
    //   it2: pr(0)=.691875, pr(2)=.180625, pr(1)=pr(3)=.06375 (Σ=1)
    val pairs = Seq((0L, 1L), (0L, 3L), (2L, 3L)).toDF("s", "p")
    val edges = pairs.select($"s".as("src"), $"p".as("dst"))
      .union(pairs.select($"p".as("src"), $"s".as("dst")))
    val got = AnalyticsQueries.personalizedPageRank(edges, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(0L) - 0.691875) < 1e-12)
    assert(math.abs(got(2L) - 0.180625) < 1e-12)
    assert(math.abs(got(1L) - 0.06375) < 1e-12)
    assert(math.abs(got(3L) - 0.06375) < 1e-12)
    assert(math.abs(got.values.sum - 1.0) < 1e-12) // mass conserved
    // teleport locality: the source outranks everything (vs global
    // PR, where the doubly-linked p3 would compete)
    assert(got(0L) === got.values.max)
  }

  test("q243 g3 is the minimum-deletion FD error, by hand") {
    // lhs=1 maps to rhs {a,a,b}: keep the majority a's, delete 1 row;
    // lhs=2 maps to {c}: clean. g3 = 1/4, one violating lhs of two.
    // Verified through the catalog query's own sweep shape: a
    // (lhs, rhs) count, a per-lhs (k, n, max) rollup, then the fold.
    import spark.implicits._
    val j = Seq((1, "a"), (1, "a"), (1, "b"), (2, "c")).toDF("l", "r")
    val per = j.groupBy($"l", $"r").agg(count(lit(1)).as("c"))
      .groupBy($"l")
      .agg(count(lit(1)).as("k"), sum($"c").as("n"), max($"c").as("mx"))
    val row = per.agg(count(lit(1)).as("n_lhs"),
      sum(when($"k" > 1, 1).otherwise(0)).as("n_violating"),
      sum($"n").as("n_rows"),
      round((sum($"n") - sum($"mx")) * 1.0 / sum($"n"), 6).as("g3"),
      (sum($"n") === sum($"mx")).cast("int").as("holds"))
      .collect().head
    assert(row.getLong(0) === 2L)
    assert(row.getLong(1) === 1L)
    assert(row.getDouble(3) === 0.25)
    assert(row.getInt(4) === 0)
  }

  test("q236 rfm: fence scores, recency reversal, all-ties floor") {
    import spark.implicits._
    def d(day: Int) = java.sql.Date.valueOf(f"2024-01-$day%02d")
    // four customers: last orders on days 31/21/11/1 → rec 0/10/20/30
    // (recent = HIGH r); freq 1/2/3/4 (padded with day-1 orders);
    // monetary equal → every m collapses to the floor score 1
    val rows = Seq(
      (1L, d(31), 100L), (2L, d(21), 50L), (2L, d(1), 50L),
      (3L, d(11), 40L), (3L, d(1), 30L), (3L, d(1), 30L),
      (4L, d(1), 25L), (4L, d(1), 25L), (4L, d(1), 25L), (4L, d(1), 25L))
    val got = AnalyticsQueries.rfm(rows.toDF("c", "od", "cents"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(4), r.getInt(5), r.getInt(6)))
      .toMap
    assert(got(1L) === ((0L, 1L, 4, 1, 1)))  // most recent, least frequent
    assert(got(2L) === ((10L, 2L, 3, 2, 1)))
    assert(got(3L) === ((20L, 3L, 2, 3, 1)))
    assert(got(4L) === ((30L, 4L, 1, 4, 1)))  // stale but frequent
  }

  test("q275 stickiness: a one-day user stays in WAU exactly 7 days") {
    import spark.implicits._
    def ts(day: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // u1 active day 1 only; u2 active daily for 10 days
    val rows = ("e", 1L, ts(1), 1.0) +:
      (1 to 10).map(d => ("e", 2L, ts(d), 1.0))
    val r = AnalyticsQueries.stickiness(
      rows.toDF("event_type", "user_id", "ts", "value")).collect()
      .map(x => x.getDate(0).toString.takeRight(2).toInt ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    assert(r(1) === ((2L, 2L, 2L, 1.0)))   // both active day 1
    assert(r(7) === ((1L, 2L, 2L, 0.5)))   // u1 still inside WAU
    assert(r(8) === ((1L, 1L, 2L, 1.0)))   // …and out on day 8
    assert(r(10) === ((1L, 1L, 2L, 1.0)))  // MAU holds the full month
  }

  test("q276 cvm: hand 2x2 case and the null at zero") {
    import spark.implicits._
    def ts(day: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // arm 0 (even users) = {1,2}, arm 1 = {3,4}: diffs (.5,1,.5,0),
    // each value carries mass 1/4 → ω² = 0.375, T = (2·2/4)·ω² = 0.375
    val rows = Seq((0L, 1.0), (2L, 2.0), (1L, 3.0), (3L, 4.0))
      .map { case (u, v) => ("e", u, ts(1), v) }
    val r = AnalyticsQueries.cvm(
      rows.toDF("event_type", "user_id", "ts", "value")).collect().head
    assert(r.getDouble(3) === 0.375)
    assert(r.getDouble(4) === 0.375)
    // identical arm distributions → exactly 0
    val same = (0L to 9L).map(u => ("e", u, ts(1), (u / 2).toDouble))
    val r0 = AnalyticsQueries.cvm(
      same.toDF("event_type", "user_id", "ts", "value")).collect().head
    assert(r0.getDouble(3) === 0.0 && r0.getDouble(4) === 0.0)
  }

  test("q279 hill: recovers a planted Pareto tail index") {
    import spark.implicits._
    // exact Pareto(α=2) quantile grid: x_(i) = (n/i)^(1/2), n = 200.
    // On exact quantiles Hill gives α·k / Σ ln((k+1)/i) — replayed
    // here; the estimate must also sit near the planted 2.
    val n = 200; val k = 50
    val rows = (1 to n).map(i =>
      (i.toLong, "P", math.pow(n.toDouble / i, 0.5)))
    val r = AnalyticsQueries.hill(
      rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice"), k)
      .collect().head
    val xs = rows.map(_._3).sorted.reverse
    val expected = k / (0 until k).map(j =>
      math.log(xs(j) / xs(k))).sum
    def r4(x: Double) = math.round(x * 1e4) / 1e4
    assert(r.getDouble(3) === r4(expected))
    assert(math.abs(r.getDouble(3) - 2.0) < 0.3)
    assert(r.getInt(4) === 1 && r.getInt(5) === 1)
  }

  test("q287 log rank: hand-traced risk sets, and separated survival fires the test") {
    import spark.implicits._
    // arm0: churn at t=1 and t=2; arm1: censored at t=1, churn at t=3.
    // t=1: n0=2 n1=2 d=1(arm0) -> E0 += 0.5, V += 1*.5*.5*3/3 = 0.25
    // t=2: n0=1 n1=1 d=1(arm0) -> E0 += 0.5, V += 1*.5*.5*1/1 = 0.25
    // t=3: n0=0 n1=1, nt=1 -> variance term guarded to 0, d0=0
    // O0=2, E0=1.0, V=0.5 -> chi2 = 1/0.5 = 2.0, z = 1/sqrt(.5) = 1.4142
    val lt = Seq((0, 1L, 1), (0, 2L, 1), (1, 1L, 0), (1, 3L, 1))
    val r = AnalyticsQueries.logRank(lt.toDF("arm", "t", "churn")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2L, 2L, 2L)))
    assert(r.getDouble(3) === 1.0)      // expected0
    assert(r.getDouble(4) === 2.0)      // chi2
    assert(r.getDouble(5) === 1.4142)   // z
    // separated regimes: arm0 all churn early, arm1 all churn late ->
    // arm0 deaths come while arm1 is fully at risk, so O0 >> E0
    val sep = ((1L to 8L).map(t => (0, t, 1)) ++
      (11L to 18L).map(t => (1, t, 1)))
    val r2 = AnalyticsQueries.logRank(sep.toDF("arm", "t", "churn")).collect()(0)
    assert(r2.getDouble(5) > 2.0, s"z = ${r2.getDouble(5)} should detect separation")
    assert(r2.getDouble(4) > 4.0)
  }

  test("q286 matrix profile: planted level-shifted motif found at distance 0, exclusion respected") {
    import spark.implicits._
    import java.sql.Date
    val m = AnalyticsQueries.MpWindow
    val pattern = Seq(100L, 900L, 100L, 900L, 100L, 900L, 100L, 900L)
    // quadratic baseline (no repeated shape) with the same 8-week
    // pattern planted at t=5 and, LEVEL-SHIFTED +500, at t=25 — a
    // motif is a shape, not a level, so mean-centered distance is 0
    val ys = (0 until 40).map { t =>
      if (t >= 5 && t < 13) pattern(t - 5)
      else if (t >= 25 && t < 33) pattern(t - 25) + 500L
      else (t * t * 7L + 11)
    }
    val weeks = (0 until 40).map(t => Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusWeeks(t).toString))
    val out = AnalyticsQueries.matrixProfile(
        ys.indices.map(t => ("A", weeks(t), ys(t))).toDF("l_returnflag", "wk", "y"))
      .collect().map(r =>
        (r.getDate(1), r.getDate(2), r.getDouble(3).toLong, r.getDouble(4)))
    // every full window has a profile row
    assert(out.length === 40 - m + 1)
    // the planted pair find each other exactly despite the level shift
    val byWk = out.map(r => r._1 -> r).toMap
    assert(byWk(weeks(5)) === ((weeks(5), weeks(25), 0L, 0.0)))
    assert(byWk(weeks(25)) === ((weeks(25), weeks(5), 0L, 0.0)))
    // no other window matches at 0 (the baseline never repeats)
    assert(out.count(_._3 == 0L) === 2)
    // trivial-match exclusion: NN is always >= m weeks away
    out.foreach { case (wk, nn, _, _) =>
      assert(math.abs(wk.toLocalDate.toEpochDay - nn.toLocalDate.toEpochDay) >= 7L * m)
    }
  }

  test("q286 matrix profile: d2 exact past int64 at 100TB-scale weekly sums") {
    import spark.implicits._
    import java.sql.Date
    val m = AnalyticsQueries.MpWindow
    // window A alternates 5e9/1e9 (weekly sums at the ~3e9 magnitude
    // the scaladoc targets), window B is flat 3e9; the only legal pair
    // is (i=1, i=9). Centered diffs are ±8·2e9, so each square is
    // 2.56e20 > Long.MaxValue and d2 = 512·(2e9)² = 2.048e21 — the
    // regime the Decimal(38,0)/HUGEINT accumulation exists for.
    val delta = 2000000000L
    val ys = (0 until 16).map(t =>
      if (t < 8) 3000000000L + (if (t % 2 == 0) delta else -delta)
      else 3000000000L)
    val weeks = (0 until 16).map(t => Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusWeeks(t).toString))
    val out = AnalyticsQueries.matrixProfile(
        ys.indices.map(t => ("A", weeks(t), ys(t))).toDF("l_returnflag", "wk", "y"))
      .collect().map(r => r.getDate(1) -> r.getDouble(3)).toMap
    // d2 is EMITTED as double (decimal outputs are unhashable at the
    // driver gate — round-11) but accumulated in Decimal(38,0): this
    // expected value (2^29·5^18) is exactly representable as a double,
    // so equality through BigDecimal still pins that the internal sum
    // never wrapped int64.
    val expected = BigDecimal(512L) * BigDecimal(delta).pow(2)
    assert(BigDecimal(out(weeks(0))) === expected)
    assert(BigDecimal(out(weeks(8))) === expected)
    assert(expected > BigDecimal(Long.MaxValue)) // the pin is vacuous otherwise
  }

  test("q287 log rank: degenerate all-zero variance yields NULL, not Inf/NaN") {
    import spark.implicits._
    // one subject, one arm: the single death time has n0+n1 = 1, so
    // the hypergeometric variance is guarded to 0 and SUM(vt) = 0.
    // nullif makes chi2/z NULL on both engines (DuckDB agrees).
    val lt = Seq((0, 1L, 1))
    val r = AnalyticsQueries.logRank(lt.toDF("arm", "t", "churn")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1L, 0L, 1L)))
    assert(r.getDouble(3) === 1.0) // expected0 = dt·n0/nt = 1
    assert(r.isNullAt(4) && r.isNullAt(5), "chi2/z must be NULL when SUM(vt)=0")
  }
}