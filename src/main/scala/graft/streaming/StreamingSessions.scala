package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming SESSION WINDOWS — the native Structured Streaming twin of the
  * batch gaps-and-islands sessionization ([[graft.operators.SessionOps]]):
  * `session_window(ts, gap)` opens a window `[ts, ts+gap)` per event and
  * merges overlapping windows of one key in the state store, so a session
  * extends while events keep arriving within `gap` of its end
  * (EXCLUSIVE boundary: an event exactly `gap` after the previous one
  * starts a NEW session — one tick tighter than SessionOps' inclusive
  * `> gap` test; the oracle replicates this boundary).
  *
  * Watermark bounds the state: a session whose end falls behind the
  * watermark is finalized, emitted (append mode), and evicted — state is
  * O(open sessions), constant in stream length. Under
  * `Trigger.AvailableNow` the final watermark is `max(ts) − delay`, so
  * the emitted rows are exactly the sessions an unbounded deployment
  * would have shipped by now — which is what makes the streaming path
  * oracle-checkable (the oracle recomputes sessions in batch and applies
  * the same cutoff).
  */
object StreamingSessions {

  /** Streaming per-key session aggregation:
    * (session_start, session_end, key, n_events), append mode.
    */
  def sessionCounts(stream: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermarkDur: String): DataFrame =
    stream
      .withWatermark(tsCol, watermarkDur)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyCol), col("n_events"))

  /** One-shot run over a parquet event directory as a bounded stream. */
  def runSessionsAvailableNow(spark: SparkSession, path: String,
      schema: StructType, tsCol: String, keyCol: String, gap: String,
      watermarkDur: String): DataFrame = {
    val stream = spark.readStream.schema(schema).parquet(path)
    val out = sessionCounts(stream, tsCol, keyCol, gap, watermarkDur)
    BoundedStream.toMemory(out, "graft_sessions")
  }
}
