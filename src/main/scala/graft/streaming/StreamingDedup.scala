package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.TextOps

/** Streaming exact deduplication: the batch fingerprint dedup
  * ([[graft.operators.DedupOps.exactDuplicates]]) re-expressed as a
  * continuous INGEST filter — documents arrive in micro-batches and only
  * the first row carrying each key passes; later arrivals, in the same or
  * any later micro-batch, are dropped by the state store.
  *
  * The reference merges per-page results into one report as pages arrive
  * (/root/reference/extraction/main.py:249-267, driver-side dicts); here
  * the cross-page memory is engine state: `dropDuplicates` on a streaming
  * frame is Spark's stateful dedup operator — one state row per distinct
  * key, hash-partitioned by key across executors and checkpointed, no
  * driver memory involved. Without a watermark the state grows with the
  * distinct-key count BY DEFINITION of exact dedup (an evicted fingerprint
  * would silently re-admit its duplicates); at corpus scale back it with
  * the RocksDB state store, or use `dropDuplicatesWithinWatermark` when
  * ingest-time duplicate windows are bounded.
  */
object StreamingDedup {

  /** The RocksDB state-store provider bundled with Spark 4. Exact dedup
    * state grows with the distinct-key count BY DEFINITION; the default
    * (HDFS-backed) provider keeps every key's state on the executor HEAP,
    * so at corpus scale the store must be disk-backed — this class spills
    * to local SST files and keeps the heap footprint bounded.
    */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Input schema of the document stream (driver `documents` table). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Fingerprint-deduped (source, fp) stream: each micro-batch is
    * fingerprinted statelessly (same canonical md5-over-sorted-word-set as
    * the batch dedup), then `dropDuplicates(fp, source)` keeps exactly one
    * row per distinct (fingerprint, source) across ALL micro-batches.
    * WHICH document wins is arrival-order-dependent; the projected columns
    * are the key itself, so the emitted SET is deterministic — the same
    * determinism discipline as the stateful-uniqueness final emissions.
    */
  def dedupStream(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), TextOps.fingerprint(col("text")).as("fp"))
      .dropDuplicates("fp", "source")

  /** One-shot stateful streaming dedup over a multi-file parquet documents
    * directory (`Trigger.AvailableNow`, `maxFilesPerTrigger` files per
    * micro-batch — small so duplicate groups SPAN batches and the
    * cross-batch state actually gates). Returns the per-source count of
    * surviving documents, which must equal the batch per-source distinct
    * fingerprint count independent of file-to-batch assignment.
    */
  def runDedupAvailableNow(
      spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 8): DataFrame = {
    // 8 files/trigger (round 7): the docs cache is 16 files, so this is
    // TWO micro-batches — duplicate groups still span batches (the
    // cross-batch state gates; the survivor set is batching-independent by
    // contract) at half the per-batch RocksDB load/commit overhead of the
    // old 4 (4 batches; measured ~5 → ~3.5 s at sf0.1)
    // RocksDB state store ADOPTED for the exact-dedup registry query
    // (round-6): the interleaved A/B recorded in BASELINE.md ("RocksDB vs
    // heap state store") pinned identical survivor sets, throughput within
    // noise, and 3.7× less tracked state memory — at corpus scale the
    // per-key state must live off-heap or the executor heap bounds the
    // corpus.
    val stream = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
    BoundedStream.toMemory(dedupStream(stream), "graft_stream_dedup",
        stateProvider = Some(RocksDBProvider))
      .groupBy("source").agg(count(lit(1)).as("n_unique_fps"))
  }

  /** BOUNDED-STATE streaming dedup: `dropDuplicatesWithinWatermark` keeps
    * a key's state only until the watermark passes its event time + delay,
    * then EVICTS it — the 100 TB ingest shape (unbounded exact-dedup state
    * grows with distinct keys forever; a bounded duplicate-arrival window
    * caps it at the keys seen within the delay). The contract is therefore
    * weaker by design: a key REAPPEARING after eviction is re-admitted
    * (StreamingSpec pins exactly that — drop inside the window, re-admit
    * after it), which is correct when upstream duplicate windows are
    * bounded (retries, replays) and is the price of bounded state.
    */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, delay: String,
      keyCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** One-shot watermark-bounded dedup of the events stream on
    * (user_id, event_type), rolled up to per-type survivor counts. With a
    * delay longer than the table's time span nothing is ever evicted, so
    * the survivor set equals batch distinct pairs REGARDLESS of
    * file-to-batch assignment — the oracle-checkable anchor; the
    * eviction behavior itself is pinned by StreamingSpec with a
    * controlled file order.
    */
  def runEventDedupAvailableNow(
      spark: SparkSession, path: String, delay: String = "3650 days",
      maxFilesPerTrigger: Int = 8): DataFrame = {
    // RocksDB adopted here too (same A/B evidence as runDedupAvailableNow)
    // 8 files/trigger (round 7): the events cache is 16 files → TWO
    // micro-batches instead of four — duplicate pairs still span batches,
    // half the per-batch state-commit overhead (same reasoning as
    // runDedupAvailableNow; survivor set is batching-independent)
    val stream = spark.readStream
      .schema(graft.sources.EventSource.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
    // key-only projection: the emitted SET is deterministic, the
    // first winner isn't
    val keys = dedupWithinWatermark(stream, "ts", delay,
        Seq("user_id", "event_type"))
      .select("user_id", "event_type")
    BoundedStream.toMemory(keys, "graft_stream_evdedup",
        stateProvider = Some(RocksDBProvider))
      .groupBy("event_type").agg(count(lit(1)).as("n_unique_users"))
  }
}
