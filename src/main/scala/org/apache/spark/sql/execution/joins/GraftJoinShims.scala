package org.apache.spark.sql.execution.joins

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, BindReferences, Expression}
import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Bridge to the `private[execution]` `HashedRelation` a broadcast hash
  * join builds. */
object GraftJoinShims {

  /** Whether `stage`, materialized, holds a hash table on `keys` (the
    * join keys of the side it broadcasts, bound the way
    * `BroadcastHashJoinExec` binds them) with one row per key. False for
    * any other broadcast: a nested-loop join's rows, or a table built on
    * other keys. */
  def keyIsUnique(stage: BroadcastQueryStageExec, keys: Seq[Expression]): Boolean =
    stage.isMaterialized && keys.forall(_.references.subsetOf(AttributeSet(stage.output))) &&
      (stage.broadcast match {
        case b: BroadcastExchangeExec => b.mode match {
          case HashedRelationBroadcastMode(built, _) =>
            val bound = BindReferences.bindReferences(HashJoin.rewriteKeyExpr(keys), stage.output)
            built.map(_.canonicalized) == bound.map(_.canonicalized) &&
              (b.relationFuture.get().value match {
                case r: HashedRelation => r.keyIsUnique
                case _ => false
              })
          case _ => false
        }
        case _ => false
      })
}
