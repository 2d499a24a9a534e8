package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.engine.Drift

/** Streaming distribution-drift monitor (north-star: "token-distribution
  * drift via streaming t-digest/KLL sketches compared against a baseline
  * snapshot").
  *
  * Event-time windowed KLL sketches per (window, source), compared against a
  * static baseline-quantile table ([[graft.engine.Drift.baselineQuantiles]],
  * computed in batch) via broadcast join. The watermark bounds the sketch
  * state: closed windows are emitted (append mode) and their state dropped,
  * so state size is O(open windows × sources × k) — constant in stream
  * length, which is what makes this viable over an unbounded 10^12-sequence
  * feed.
  *
  * The batch anchors are [[graft.engine.Drift.exactQuantileDrift]] (exact,
  * oracle-checked) and [[graft.engine.Drift.sketchQuantileDrift]]; this is
  * the same sketch aggregate ([[graft.engine.Drift.sketchQuantiles]]) and
  * the same verdict ([[graft.engine.Drift.maxDeltaVerdict]]) lifted into a
  * windowed streaming plan — partial sketches merge in the state store
  * exactly as they merge at a batch exchange.
  */
object StreamingDrift {

  /** Windowed drift over a streaming token frame with an event-time column.
    * Output (append mode, emitted as windows close):
    * (window_start, window_end, source, max_delta, drifted).
    */
  def windowedSketchDrift(
      stream: DataFrame, eventCol: String, windowDur: String,
      watermarkDur: String, baselineQs: DataFrame, column: String,
      k: Int, ps: Seq[Double], threshold: Double): DataFrame = {
    val agg = stream
      .withWatermark(eventCol, watermarkDur)
      .groupBy(window(col(eventCol), windowDur), col("source"))
      .agg(Drift.sketchQuantiles(col(column), k, ps).as("cur_qs"))
    agg.join(broadcast(baselineQs), Seq("source"), "left")
      .select(Seq(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("source")) ++ Drift.maxDeltaVerdict(ps, threshold): _*)
  }

  /** One-shot windowed drift over a parquet event directory as a bounded
    * stream (`Trigger.AvailableNow`), in APPEND mode: only windows the
    * watermark has closed are emitted — exactly the rows an unbounded
    * deployment would have shipped, which makes the streaming path
    * oracle-checkable (the driver recomputes each closed window's exact
    * quantiles and the watermark cutoff `max(ts) - delay`). State is
    * dropped as windows close, so memory is O(open windows × sources × k).
    */
  def runWindowedDriftAvailableNow(
      spark: SparkSession, path: String, schema: StructType,
      eventCol: String, sourceCol: String, valueCol: String,
      windowDur: String, watermarkDur: String, baselineQs: DataFrame,
      k: Int, ps: Seq[Double], threshold: Double): DataFrame = {
    val stream = spark.readStream.schema(schema).parquet(path)
      .select(col(eventCol).as("ts"), col(sourceCol).as("source"),
        col(valueCol).as("value"))
    val out = windowedSketchDrift(stream, "ts", windowDur, watermarkDur,
      baselineQs, "value", k, ps, threshold)
    BoundedStream.toMemory(out, "graft_window_drift")
  }
}
