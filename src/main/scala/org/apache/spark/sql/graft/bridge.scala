package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId, StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

/** Access to Spark internals that are `private[sql]` or live below the
  * public API, kept in this one shim inside the sql package — the standard
  * pattern for Spark extension libraries.
  *
  * Column ↔ Expression: Spark 4 made the converters `private[sql]` (Column
  * is Connect-agnostic now); custom Catalyst expressions still need them.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Every state-store provider a query's stateful operators address: one
    * per operator and state partition, keyed by the query's run id. Read
    * from the last micro-batch's executed plan (operator ids, checkpoint
    * location and partition count are fixed for a run); empty when no
    * batch ran. Only the default store name is covered — enough for every
    * operator that does not join two streams (a stream–stream join keeps
    * named stores of its own; no caller joins two streams).
    */
  def stateStoreProviders(q: StreamingQuery): Seq[StateStoreProviderId] =
    q match {
      case w: StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution).toSeq
          .flatMap(_.executedPlan.collect { case op: StatefulOperator =>
            op.getStateInfo })
          .distinctBy(_.operatorId)
          .flatMap(info => (0 until info.numPartitions).map(p =>
            StateStoreProviderId(info, p, StateStoreId.DEFAULT_STORE_NAME)))
      case _ => Nil
    }

  /** Unloads and closes the state-store providers of a TERMINATED query
    * (see [[stateStoreProviders]]), which Spark otherwise keeps loaded —
    * with their in-memory state maps — until its maintenance task finds
    * them inactive (60 s by default). Safe because a provider id carries
    * the run id and a restart always gets a new one, so nothing can load
    * these providers again.
    *
    * DRIVER-LOCAL: this unloads the providers loaded in this JVM, which is
    * every provider under a local master. On a cluster they live on the
    * executors, where the maintenance task unloads them as before.
    */
  def releaseStateStores(q: StreamingQuery): Unit =
    stateStoreProviders(q).foreach(StateStore.removeFromLoadedProvidersAndClose(_))
}
