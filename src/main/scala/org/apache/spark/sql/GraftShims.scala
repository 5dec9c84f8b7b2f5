package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` Column ↔ Expression converters — the
  * supported pattern for libraries that ship native Catalyst
  * expressions (Spark 4 moved Column onto ColumnNode, so
  * `new Column(expr)` no longer exists).
  */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an imperative aggregate function as an aggregate Column. */
  def aggColumn(a: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction): Column =
    ExpressionUtils.column(a.toAggregateExpression())

  /** Register a builder under `name` so `spark.sql("SELECT name(...)")`
    * resolves it — session-scoped, the classic library registration
    * path (the extensions-injection route needs builder-time access). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** Unpersist the block-manager copy behind a `localCheckpoint`ed
    * DataFrame (its plan is a LogicalRDD over the persisted RDD) —
    * lets iterative operators, which checkpoint to cut each round's
    * lineage, release superseded frontiers instead of pinning every
    * round's copy until end-of-query cleanup (a frame the readers of
    * one plan share is left to AQE's exchange reuse wherever that runs
    * no more jobs). No-op for
    * non-checkpointed frames. Checkpoints are LAZY repo-wide (round
    * 8): callers must run an action on the SUCCESSOR frame first, so
    * its checkpoint is materialized before the predecessor's blocks
    * vanish — truncated lineage cannot recompute them. */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** A DataFrame of `schema` over rows computed off `from`'s
    * `queryExecution.toRdd` — the InternalRow path, no Row conversion. */
  def fromRows(from: Dataset[_], rows: RDD[InternalRow], schema: StructType): DataFrame =
    from.queryExecution.sparkSession.internalCreateDataFrame(rows, schema)

  /** The error `spark.read.parquet` raises on a path holding no data file. */
  def parquetSchemaNotFound(): Throwable =
    QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")
}
