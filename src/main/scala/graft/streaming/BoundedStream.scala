package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one runner behind every bounded-stream harness: a streaming frame
  * processed to completion with `Trigger.AvailableNow`, after which
  * nothing of the run stays loaded but its result.
  *
  * The reference keeps its cross-page memory for the length of one run
  * (its `extraction/main.py:249-267`); here the run's state lives in the
  * state store and its output in a memory sink, and both are let go when
  * the query ends — also when it fails. Otherwise a finished run keeps its
  * state maps on the heap until Spark's maintenance task unloads them, and
  * its sink view for the life of the session.
  */
private[streaming] object BoundedStream {

  /** Runs `out` into a memory sink and returns what the sink collected.
    * `stateProvider` sets the state-store provider class for this query
    * only: the session conf is changed around `start()`, where the query
    * takes its own copy of it. The returned frame stays lazy; it reads the
    * sink directly, so it outlives the sink's (dropped) view. A failed run
    * rethrows its `StreamingQueryException`.
    */
  def toMemory(out: DataFrame, namePrefix: String,
      outputMode: String = "append",
      stateProvider: Option[String] = None): DataFrame = {
    val spark = out.sparkSession
    val name = s"${namePrefix}_${System.nanoTime()}"
    val writer = out.writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
    val q = stateProvider match {
      case None => writer.start()
      case Some(provider) =>
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, provider)
        try writer.start() finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
    }
    try { await(q); spark.table(name) }
    finally spark.catalog.dropTempView(name)
  }

  /** Awaits a bounded query, then releases its state-store providers
    * ([[bridge.releaseStateStores]]) whether it finished or failed.
    */
  def await(q: StreamingQuery): Unit =
    try q.awaitTermination() finally bridge.releaseStateStores(q)
}
