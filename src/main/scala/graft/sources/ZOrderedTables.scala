package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ZOrderKey
import graft.model.Tables

/** Z-order-clustered storage layout (the multi-dimensional sibling of
  * [[BucketedTables]]/[[PartitionedTables]]): lineitem written once in
  * two 16-file layouts —
  *
  *  - `linear`: range-sorted by `l_partkey` alone (the classic
  *    single-column sort);
  *  - `zorder`: range-sorted by `z_order_key(l_partkey, l_suppkey)`.
  *
  * Both layouts produce identical rows; what changes is WHICH FILES a
  * filter's matching rows live in. Under the linear layout a
  * `l_suppkey` range touches every file (suppkey is unclustered);
  * under the z-order layout a range on EITHER column — or a box on
  * both — concentrates into O(√files) of them, so parquet min/max
  * footer stats let the reader skip the rest. ZOrderSpec measures
  * exactly that (distinct input files containing matches, z vs
  * linear); q88 pins that the layout rewrite preserves query results.
  */
object ZOrderedTables {

  private def root(sfDir: String): String =
    SourceLayout.root("graft_zorder", sfDir)

  private val NFiles = 16

  /** lineitem range-sorted by l_partkey only. */
  def linear(s: SparkSession, sfDir: String): DataFrame = {
    val dir = s"${root(sfDir)}/linear"
    SourceLayout.table(s, dir) {
      Tables.lineitem(s, sfDir)
        .repartitionByRange(NFiles, col("l_partkey"))
        .sortWithinPartitions(col("l_partkey"))
    }
  }

  /** lineitem range-sorted by the interleaved (partkey, suppkey) key.
    * The key column is dropped after the sort — the layout IS the
    * index, nothing is stored beyond the reordered rows.
    *
    * Both dimensions are first scaled to a common 16-bit range (from a
    * broadcast min/max row). This step is load-bearing: raw interleave
    * of an 11-bit partkey with a 7-bit suppkey puts every suppkey bit
    * below the file-boundary bits, so files would still be carved by
    * partkey alone and a suppkey filter would touch all of them.
    * Equal-width normalization is what gives the two dimensions equal
    * significance in the sort (production z-order implementations use
    * equi-depth range bucketing for the same reason; linear scaling
    * suffices for the uniform fixture keys).
    */
  def zordered(s: SparkSession, sfDir: String): DataFrame = {
    val dir = s"${root(sfDir)}/zorder"
    SourceLayout.table(s, dir) {
      val li = Tables.lineitem(s, sfDir)
      val bounds = li.agg(
        min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
        min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
      def scale16(c: String, lo: String, hi: String) =
        (col(c).cast("long") - col(lo)) * lit(65535L) /
          greatest(col(hi) - col(lo), lit(1L))
      li.crossJoin(broadcast(bounds))
        .withColumn("zk", ZOrderKey.zOrderKey(
          scale16("l_partkey", "pmin", "pmax").cast("long"),
          scale16("l_suppkey", "smin", "smax").cast("long")))
        .repartitionByRange(NFiles, col("zk"))
        .sortWithinPartitions(col("zk"))
        .drop("zk", "pmin", "pmax", "smin", "smax")
    }
  }
}
