package org.apache.spark.sql.valbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the traced run reads. `listenerBus` is
  * `private[spark]` and the end event's `qe` is `private[sql]`, hence this
  * shim's package.
  */
object SparkInternals {

  /** Waits until every event posted so far has reached every listener (the
    * traced run reads its listeners only after this).
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The id of the `QueryExecution` an SQL execution ran, which a
    * `QueryExecutionListener` sees, so the two can be joined.
    */
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)
}
