package graft.etl

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Dense row numbering at scale as ONE range sort plus a running
  * counter (`RDD.zipWithIndex`'s rule, per key). The naive form,
  * `row_number().over(Window.orderBy(keys))`, funnels the whole
  * dataset through ONE window partition (Spark even warns). Here:
  *
  *   1. sort by `key +: order` at session width: partition `p` holds a
  *      contiguous slice of the total order, so each key's rows form
  *      one run over consecutive partitions;
  *   2. only if the sort has more than one partition, one job collects
  *      each partition's run-length counts of the key (partitions ×
  *      |keys| rows of metadata); a partition's offset is the count of
  *      its first key in earlier partitions;
  *   3. one pass assigns `offset + running count`, restarting at each
  *      key change, and returns the rows as a DataFrame.
  *
  * Both passes read the sort's `queryExecution.toRdd`, one RDD whose
  * range bounds live in one ShuffleDependency, so they see the same
  * shuffle output. No checkpoint is needed to pin the bounds (a
  * second range sample could misalign the offsets only if a second
  * exchange existed), and nothing is cached for a caller to release.
  * The result is the exact total-order rank whenever the sort keys are
  * a total order, so the oracle replays it as a plain
  * ROW_NUMBER() OVER (ORDER BY keys).
  */
object GlobalRank {

  /** Append `global_id` = 1-based dense rank of `keys` (must be a
    * total order for determinism) — the constant-key case. */
  def withGlobalId(df: DataFrame, keys: Seq[Column]): DataFrame =
    rank(df, keys, lit(0), "global_id")

  /** Append `per_key_id` = 1-based dense rank of `order` WITHIN each
    * value of `key`. The naive `row_number().over(Window.partitionBy(key))`
    * gives each key ONE window partition (a 10-bucket curriculum would
    * sort 10 TB per task at 100 TB); the sort here keeps partitions
    * byte-bounded under any key skew. `key` must be low-cardinality
    * (buckets, deciles, shards); (key, order…) must be a total order.
    */
  def withPerKeyId(df: DataFrame, key: Column, order: Seq[Column]): DataFrame =
    rank(df, key +: order, key, "per_key_id")

  private def rank(df: DataFrame, sortKeys: Seq[Column], key: Column,
                   name: String): DataFrame = {
    val fields = df.schema.fields
    val width = fields.length
    val keyed = df.orderBy(sortKeys: _*).select(col("*"), key.as("__k"))
    val kType = keyed.schema(width).dataType
    // toRdd reuses its UnsafeRows: a key is copied before it is kept
    val rows = keyed.queryExecution.toRdd
    val starts =
      if (rows.getNumPartitions <= 1) Array(0L)
      else {
        val runs = rows.mapPartitions { it =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]
          it.foreach { r =>
            val k = r.get(width, kType)
            if (out.nonEmpty && out.last._1 == k)
              out(out.length - 1) = (out.last._1, out.last._2 + 1)
            else out += (InternalRow.copyValue(k) -> 1L)
          }
          Iterator.single(out.toArray)
        }.collect()
        val seen = scala.collection.mutable.Map.empty[Any, Long].withDefaultValue(0L)
        runs.map { rs =>
          val start = rs.headOption.fold(0L)(r => seen(r._1))
          rs.foreach { case (k, c) => seen(k) += c }
          start
        }
      }
    val columns = fields.indices.map(i =>
      BoundReference(i, fields(i).dataType, fields(i).nullable)) :+
      BoundReference(width + 1, LongType, nullable = false)
    val ranked = rows.mapPartitionsWithIndex { (p, it) =>
      val project = UnsafeProjection.create(columns)
      val id = new GenericInternalRow(1)
      val joined = new JoinedRow()
      val none = new AnyRef // equals no key, so the first row opens a run
      var prev: Any = none
      var n = 0L
      it.map { r =>
        val k = r.get(width, kType)
        if (k != prev) {
          n = if (prev == none) starts(p) else 0L
          prev = InternalRow.copyValue(k)
        }
        n += 1
        id.setLong(0, n)
        project(joined(r, id)): InternalRow
      }
    }
    GraftShims.fromRows(keyed, ranked,
      StructType(fields :+ StructField(name, LongType, nullable = false)))
  }
}
