package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionSet}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Expand, Generate, Join, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.joins.GraftJoinShims
import org.apache.spark.sql.internal.SQLConf

/** Plans a global sort of a small input in one partition:
  * `SortExec(order, global, CoalesceExec(1, child))` instead of a range
  * exchange. The range exchange costs a `RangePartitioner` sampling job
  * and a map stage; `CoalesceExec(1)` reports `SinglePartition`, which
  * already satisfies the sort's ordered distribution, so
  * `EnsureRequirements` adds no exchange and both jobs are gone.
  *
  * It fires only when every one of these holds:
  *  - AQE and its partition coalescing are on ([[bound]]);
  *  - every leaf under the sort is a file scan or a materialized AQE
  *    query stage (at a re-plan) that is not a range shuffle, so its
  *    size is known and the sample is still to be saved;
  *  - the leaves sum to at most
  *    `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB):
  *    AQE would coalesce a shuffle that small into one partition
  *    anyway, so this adds no conf and never fires on a large input. A
  *    broadcast stage reports its hash table's memory, so it counts as
  *    its rows times their estimated width ([[inputBytes]]);
  *  - nothing under the sort multiplies rows ([[multiplier]]): no
  *    `Generate`, no `Expand`, and every join is one of
  *    - a join with a side of at most one row (a scalar attach);
  *    - a left semi or left anti join;
  *    - an equi-join whose other side is unique on its join keys: an
  *      inner join with either side unique, a left outer join with the
  *      right side unique, a right outer join with the left side
  *      unique. A side is unique when Spark's `distinctKeys` of it (an
  *      aggregate's grouping keys, say; a stage is read through its
  *      logical plan) are among its join keys, or, at a re-plan, when
  *      it is a materialized broadcast stage whose hash table holds one
  *      row per key.
  *
  *    So the sort's input has no more rows than its leaves.
  *
  * [[refusal]] names the first rule a sort breaks; the census reads it
  * there too, so the two cannot disagree.
  *
  * `Limit(Sort)` is planned by `SpecialLimits` as
  * `TakeOrderedAndProject` before this strategy sees the `Sort`. AQE's
  * re-planner consults `experimental.extraStrategies` at every re-plan,
  * so a sort over an aggregate is planned in one partition once the
  * aggregate's shuffle stage has reported its size.
  */
object OnePartitionSort extends SparkStrategy {

  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: Sort if s.global && refusal(s.child, SQLConf.get).isEmpty =>
      SortExec(s.order, global = true, CoalesceExec(1, planLater(s.child))) :: Nil
    case _ => Nil
  }

  /** Appends the strategy to the session's planner once.
    * `GraftQuery.prepare` calls it, so every session that runs the
    * catalog plans with it. */
  def install(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(this)) ex.extraStrategies = ex.extraStrategies :+ this
  }

  /** The input size at or under which AQE coalesces a shuffle into one
    * partition, when it coalesces at all. */
  def bound(conf: SQLConf): Option[Long] =
    if (conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled)
      Some(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    else None

  /** Why a global sort over `child` keeps its range exchange, or None
    * when the strategy plans it in one partition: coalescing is off, a
    * leaf of unknown size (named by its kind), a row-multiplying node,
    * or an input over the bound. */
  def refusal(child: LogicalPlan, conf: SQLConf): Option[String] = bound(conf) match {
    case None => Some("coalescing off")
    case Some(_) if child.isStreaming => Some("streaming")
    case Some(b) =>
      val leaves = child.collectLeaves()
      leaves.find(!sized(_)).map(l => s"unsized ${l.nodeName}")
        .orElse(multiplier(child))
        .orElse(Option.when(inputBytes(child) > b)("over bound"))
  }

  /** The sum of the leaves' sizes, the figure [[refusal]] bounds. A
    * materialized broadcast stage counts as its rows times
    * `EstimationUtils.getSizePerRow`, not as the hash table it built. */
  def inputBytes(child: LogicalPlan): BigInt = child.collectLeaves().map {
    case s @ LogicalQueryStage(_, b: BroadcastQueryStageExec) if b.isMaterialized =>
      b.getRuntimeStatistics.rowCount.fold(s.stats.sizeInBytes)(
        _ * EstimationUtils.getSizePerRow(s.output))
    case l => l.stats.sizeInBytes
  }.sum

  /** A file scan, or a materialized stage that is not a range shuffle:
    * once a range shuffle has run, its sample and map stage are paid
    * and planning the sort in one partition saves nothing. */
  private def sized(leaf: LogicalPlan): Boolean = leaf match {
    case s: LogicalQueryStage => s.isMaterialized && !s.physicalPlan.exists {
      case q: ShuffleQueryStageExec => q.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
    case _ => false
  }

  /** The first `Generate`, `Expand`, or join that may return more rows
    * than its streamed side. A materialized stage is a leaf: its size is
    * its output's. */
  private def multiplier(p: LogicalPlan): Option[String] = p match {
    case _: LogicalQueryStage => None
    case _: Generate => Some("Generate")
    case _: Expand => Some("Expand")
    case j: Join if !keepsRows(j) => Some("join")
    case _ => p.children.iterator.flatMap(multiplier).nextOption()
  }

  private def keepsRows(j: Join): Boolean =
    j.children.exists(_.maxRows.exists(_ <= 1)) || (j match {
      case Join(_, _, LeftSemi | LeftAnti, _, _) => true
      case ExtractEquiJoinKeys(Inner, lk, rk, _, _, l, r, _) => unique(l, lk) || unique(r, rk)
      case ExtractEquiJoinKeys(LeftOuter, _, rk, _, _, _, r, _) => unique(r, rk)
      case ExtractEquiJoinKeys(RightOuter, lk, _, _, _, l, _, _) => unique(l, lk)
      case _ => false
    })

  /** `side` holds at most one row per value of `keys`. */
  private def unique(side: LogicalPlan, keys: Seq[Expression]): Boolean = {
    val covered = ExpressionSet(keys)
    side.transformUp { case s: LogicalQueryStage => s.logicalPlan }
      .distinctKeys.exists(_.subsetOf(covered)) || (side match {
      case LogicalQueryStage(_, b: BroadcastQueryStageExec) => GraftJoinShims.keyIsUnique(b, keys)
      case _ => false
    })
  }
}
