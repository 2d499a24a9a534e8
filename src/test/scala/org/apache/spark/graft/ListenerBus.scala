package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus, hence this package. */
object ListenerBus {

  /** Waits until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
