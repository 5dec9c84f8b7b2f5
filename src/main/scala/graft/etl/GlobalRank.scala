package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dense global row numbering at scale — the two-phase
  * range-partition + offset pattern. The naive form,
  * `row_number().over(Window.orderBy(keys))`, funnels the whole
  * dataset through ONE window partition (Spark even warns); the
  * classic distributed shape instead:
  *
  *   1. range-repartition by the key (Spark's own sort machinery —
  *      non-overlapping ordered ranges), materialized ONCE so the
  *      sampled range boundaries are identical for both consumers
  *      (two separate jobs would re-sample boundaries and misalign
  *      the offsets; at 100 TB this materialization is the sorted
  *      layout write a stable-id assignment persists anyway),
  *   2. per-partition counts — ≤ `parts` rows of METADATA to the
  *      driver (the PQ-codebook collect class), scanned into
  *      cumulative offsets,
  *   3. partition-LOCAL row_number (each window partition = one range
  *      partition, never the globe) + broadcast offset join.
  *
  * The result is the exact total-order rank whenever `keys` is a
  * total order (ties would make it partitioning-dependent), so the
  * oracle replays it as a plain ROW_NUMBER() OVER (ORDER BY keys).
  */
object GlobalRank {

  /** Checkpoint-RDD ids created by [[withGlobalId]], so [[release]]
    * can free exactly these blocks and nothing else a caller has
    * cached. */
  private val checkpointIds =
    new java.util.concurrent.ConcurrentLinkedQueue[Integer]()

  /** Free the storage pinned by past [[withGlobalId]] calls. The
    * checkpointed range-partition MUST stay alive until the returned
    * frame is materialized (freeing earlier would re-sample range
    * boundaries and misalign the offsets), so the contract is: consume
    * the result, then call this. The between-query `Bench.reset`
    * sweep subsumes it; library callers invoke it directly. */
  def release(spark: org.apache.spark.sql.SparkSession): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    var id: Integer = checkpointIds.poll()
    while (id != null) {
      live.get(id.intValue()).foreach(_.unpersist(blocking = false))
      id = checkpointIds.poll()
    }
  }

  /** Append `global_id` = 1-based dense rank of `keys` (must be a
    * total order for determinism). */
  def withGlobalId(df: DataFrame, keys: Seq[Column],
                   parts: Int = 32): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ranged = df.repartitionByRange(parts, keys: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    (sc.getPersistentRDDs.keySet -- before)
      .foreach(i => checkpointIds.add(Integer.valueOf(i)))
    val counts = ranged.groupBy(col("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _))
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val local = Window.partitionBy(col("__pid")).orderBy(keys: _*)
    ranged
      .withColumn("__rn", row_number().over(local))
      .join(broadcast(offDf), "__pid")
      .withColumn("global_id", col("__off") + col("__rn"))
      .drop("__pid", "__off", "__rn")
  }

  /** Append `per_key_id` = 1-based dense rank of `order` WITHIN each
    * value of `key` — the [[withGlobalId]] two-phase shape with the
    * count/offset bookkeeping carried per key. The naive form,
    * `row_number().over(Window.partitionBy(key))`, gives each key ONE
    * window partition — at 100 TB a 10-bucket curriculum would sort
    * 10 TB per task; here the data is range-partitioned by
    * (key, order…) so every partition stays byte-bounded regardless of
    * key skew, and only (partition × key) COUNT rows reach the driver.
    * `key` must therefore be low-cardinality (buckets, deciles,
    * shards — the driver collect is parts × |keys| rows of metadata);
    * (key, order…) must be a total order for determinism.
    */
  def withPerKeyId(df: DataFrame, key: Column, order: Seq[Column],
                   parts: Int = 32): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ranged = df.repartitionByRange(parts, key +: order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    (sc.getPersistentRDDs.keySet -- before)
      .foreach(i => checkpointIds.add(Integer.valueOf(i)))
    val counts = ranged.groupBy(col("__pid"), key.as("__k")).count()
      .collect().map(r => (r.getInt(0), r.get(1), r.getLong(2)))
    // cumulative within key, in pid order — ranges are sorted by
    // (key, order…) so pid order IS rank order within each key
    val offsets = counts.sortBy(_._1).groupBy(_._2).toSeq.flatMap {
      case (k, rows) =>
        rows.map(_._1).zip(rows.map(_._3).scanLeft(0L)(_ + _))
          .map { case (pid, off) => (pid, k, off) }
    }
    val spark = df.sparkSession
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.map {
        case (pid, k, off) => org.apache.spark.sql.Row(pid, k, off) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__opid",
          org.apache.spark.sql.types.IntegerType),
        ranged.select(key.as("__ok")).schema.fields.head.copy(name = "__ok"),
        org.apache.spark.sql.types.StructField("__off",
          org.apache.spark.sql.types.LongType))))
    val local = Window.partitionBy(col("__pid"), key).orderBy(order: _*)
    ranged
      .withColumn("__rn", row_number().over(local))
      .join(broadcast(offDf),
        col("__pid") === col("__opid") && key === col("__ok"))
      .withColumn("per_key_id", col("__off") + col("__rn"))
      .drop("__pid", "__opid", "__ok", "__off", "__rn")
  }
}
