package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.Ingest

/** Fixture-table loaders (TESTDATA.md / FIXTURES.md §B).
  *
  * Every query takes an `sfDir` (e.g. /root/testdata/sf0.01) and loads
  * parquet lazily; Catalyst prunes columns and pushes filters into the
  * vectorized parquet scan, so loaders never pre-select. At cluster scale
  * the same loaders work against a partitioned table root — partition
  * pruning composes with the per-query filters.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The fixture table `name` under `sfDir`. Building it starts no
    * Spark job: [[Ingest.readParquet]] takes the schema from the
    * table's parquet footer on the Spark driver. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Ingest.readParquet(spark, s"$sfDir/$name.parquet")

  /** Row count of the fixture table `name`, from its parquet footers'
    * row-group counts: metadata, not a scan, so no Spark job. */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    Ingest.parquetRowCount(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts normalization — the fixture's physical timestamp type has
    * varied across driver generations, so branch on what the footer
    * actually says instead of assuming one encoding:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set once at session
    *    build in [[graft.Bench.configure]]) it surfaces as a LONG of
    *    epoch-ns, rebuilt here at µs precision (integer `div` — no
    *    double round-trip).
    *  - timestamp[us] (current generation): surfaces as TIMESTAMP_NTZ;
    *    cast to TIMESTAMP under the session's UTC zone — bit-identical
    *    instants to the nanos path, and downstream epoch-µs arithmetic
    *    (unix_micros etc.) keeps matching DuckDB's naive read.
    * Branching at plan-build time (not per row) keeps the scan vectorized
    * either way; conf mutation stays out of query functions (racy under
    * concurrent queries).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  /** documents/embeddings deliberately do NOT load through [[spread]]:
    * a blanket loader spread was benched both ways in round 9 — the
    * heavy consumers won 0.5–3 s each, but every CHEAP consumer paid
    * ~0.1–0.5 s: one extra exchange per consuming subtree (the
    * exchanges don't dedupe — column pruning specializes each one),
    * 32-task range sampling under every final global sort, and the
    * broadcast sides of the pair joins collecting through a shuffle
    * they don't need. Net worse than spreading INSIDE the
    * compute-heavy helpers (positionalShingles, simHash, the bigram/
    * RAKE/DSIR tokenizers, perDocStages, and the streamed corpus side
    * of every all-pairs vector join), which is where [[spread]] lives
    * now — surgical, at the stage whose cost justifies the exchange. */
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Raise a frame's parallelism to the session's shuffle width before a
    * compute-heavy narrow stage (shingling, per-row replica explosion,
    * char n-gram expansion) — and ONLY when the frame is narrower than
    * that width. The fixture tables are single-file parquet with one row
    * group each (documents/events/embeddings scan as 1 partition,
    * lineitem as 3), so any work placed before the first shuffle runs on
    * that many cores no matter how wide the session is; parquet cannot
    * split below row-group granularity, so `maxPartitionBytes` can't fix
    * it.
    *
    * The partition-count probe (`.rdd.getNumPartitions`) is free ONLY
    * for scan-rooted frames (scan + project/filter/generate): under AQE
    * (on by default), materializing `.rdd` on a shuffle-BEARING frame
    * finalizes the adaptive plan, which eagerly EXECUTES every upstream
    * shuffle stage and then discards the result — the caller's
    * derivation would run twice. So shuffle-bearing frames skip the
    * probe: an outermost explicit repartition declares its width in
    * the plan and is honored statically (identity when already at or
    * above session width); everything else repartitions
    * unconditionally — at fixture scale that is
    * exactly what the probe would have chosen (AQE coalesces small
    * shuffle outputs below session width), and at cluster scale one
    * exchange of an already-reduced result is strictly cheaper than
    * re-deriving it — though callers there should prefer
    * [[atFullWidth]] at write sites, which adds no exchange at all.
    * For scan-rooted frames the probe stays: a 100 TB table scans as
    * thousands of splits, `getNumPartitions >= width`, and the check is
    * driver-side metadata that adds NO shuffle. The round-robin pass it
    * adds at fixture scale moves only the projected columns fed to it
    * (call it AFTER pushdown-eligible filters/projections, so those
    * stay at the scan).
    */
  def spread(df: DataFrame): DataFrame =
    spreadVia(df, _.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions))

  /** [[spread]] with a caller-supplied DETERMINISTIC spread key — the
    * guide-§2.5 form of the exchange: round-robin `repartition(n)`
    * first pays a local sort of its whole input
    * (`spark.sql.execution.sortBeforeRepartition`, on since
    * SPARK-23207 so retried tasks reproduce their row→partition
    * assignment); hashing a deterministic key needs no such sort AND
    * is retry-exact by construction. Measured at sf0.1 on the 600k-row
    * lineitem projection: 0.66 s round-robin vs 0.37 s keyed, same
    * downstream shape. The key must be (near-)unique AND NON-NULL —
    * duplicate keys co-locate, so a heavy-duplicate key column would
    * rebuild the skew spread exists to remove, and xxhash64(null)
    * returns the seed constant, so every null-key row would land in ONE
    * bucket (a null-heavy key would degenerate the spread to a single
    * partition). A null key therefore fails the exchange's task through
    * `raise_error` in the partition expression (no extra job; the
    * optimizer folds the test away for a non-nullable key); callers pass
    * the row id (doc_id, rid, cents…). `width·64` hash buckets keep the
    * bucket→partition step balanced (20–100× more distinct values than
    * partitions, §2.5).
    * Unlike the round-robin form the partition expression references
    * the key column, so column pruning through the exchange keeps
    * key+used columns — call it on an already-projected frame (the
    * standing spread discipline). */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.functions.{lit, pmod, raise_error, when, xxhash64}
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    val bucket = when(key.isNull, raise_error(lit(s"Tables.spread: null spread key $key")))
      .otherwise(pmod(xxhash64(key), lit(width * 64)))
    spreadVia(df, _.repartition(width, bucket))
  }

  private def spreadVia(df: DataFrame,
                        exchange: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    val analyzed = df.queryExecution.analyzed
    // ALLOWLIST of probe-safe nodes (round-10 ADVICE: the previous
    // denylist of shuffle-bearing nodes silently reintroduced the
    // double-execution-under-AQE bug for any unlisted shuffle-requiring
    // node — typed MapGroups/CoGroup, future operators). A frame is
    // probe-safe only when EVERY node is provably shuffle-free: a leaf
    // scan plus Project/Filter/Generate/SubqueryAlias — the documented
    // 'scan-rooted' contract. Anything else defaults to the no-probe
    // path below.
    val probeSafe = !analyzed.exists {
      case _: LeafNode | _: Project | _: Filter | _: Generate |
           _: SubqueryAlias => false
      case _ => true
    }
    if (probeSafe)
      return if (df.rdd.getNumPartitions < width) exchange(df) else df
    // Not probe-safe: never probe. An explicit outermost repartition
    // states its width in the plan — honor it statically; anything
    // whose runtime width only AQE knows gets the unconditional
    // exchange described above.
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c)         => strip(c)
      case Filter(_, c)          => strip(c)
      case SubqueryAlias(_, c)   => strip(c)
      case p                     => p
    }
    val declaredWidth = strip(analyzed) match {
      case r: Repartition if r.shuffle => Some(r.numPartitions)
      case r: RepartitionByExpression  => r.optNumPartitions
      case _                           => None
    }
    declaredWidth match {
      case Some(n) if n >= width => df
      case _                     => exchange(df)
    }
  }

  /** Run `body` (a write of a shuffle-bearing frame) with AQE partition
    * coalescing disabled, so the final stage emits files at its
    * shuffle's natural width instead of the 1–2 files AQE coalesces a
    * fixture-scale result into. This is the writer-side form of the
    * row-group discipline (SCALING.md "inverse cliff"): readers can
    * never split finer than the row groups writers emit, so write-once
    * layouts must come out at the split width their heavy consumers
    * need. Unlike [[spread]]'s fallback this adds NO exchange — the
    * frame's own final shuffle just keeps all its output partitions —
    * and unlike an eager `.rdd` probe it executes nothing. Scoped: the
    * previous conf value is restored even if `body` throws.
    *
    * NOT concurrency-safe (round-10 ADVICE): the override is
    * session-level conf, so a query running concurrently on the same
    * SparkSession loses AQE coalescing for the duration, and
    * overlapping atFullWidth calls can restore a stale value. Safe
    * under this library's single-threaded driver contract (Verify/
    * Bench/layout builds run queries serially); a multi-tenant caller
    * must scope the write with `SparkSession.cloneSession()` instead.
    */
  def atFullWidth[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = s.conf.get(key, "true")
    s.conf.set(key, "false")
    try body finally s.conf.set(key, prev)
  }
}
