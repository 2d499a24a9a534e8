package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.engine.Validator
import graft.model.DetailedViolation
import graft.rules.{RuleSet, UniqueRule}

/** Structured-Streaming face of the validation engine: the same compiled
  * rule predicates evaluated continuously over an unbounded token stream.
  *
  * The reference validates in pull-based pages over a live FHIR server
  * (/root/reference/extraction/fhir.py:53-94 — a poor man's stream); here the
  * page cursor becomes a real Structured Streaming source and the per-page
  * validate-and-merge loop (main.py:249-267) becomes incremental micro-batch
  * execution with state kept by the engine, not by driver dicts:
  *
  *  - row and referential rules: stateless — the batch compiler
  *    ([[Validator.violations]]) works on a streaming frame unchanged; a
  *    small dimension becomes a static predicate in the row pass, a large
  *    one a stream–static broadcast anti-join (no stream-stream state).
  *  - uniqueness: genuinely stateful — `flatMapGroupsWithState` keyed by
  *    doc_id holding (count, minSource) per key, hash-partitioned by key
  *    and checkpointed by the state store; no driver dict is involved.
  *    State grows with the distinct-key count BY DEFINITION of streaming
  *    uniqueness (there is no sound TTL — an evicted key would silently
  *    re-admit duplicates).
  *
  * State lifetime: the harnesses below run on the session's state-store
  * provider — the default, heap-backed one — and their state lives exactly
  * as long as the query: [[BoundedStream]] unloads the run's providers
  * when it ends. A deployment whose key set outgrows the executor heap
  * sets `spark.sql.streaming.stateStore.providerClass` to the RocksDB
  * provider ([[StreamingDedup.RocksDBProvider]]), which keeps the state in
  * local SST files instead.
  */
object StreamingValidation {

  /** Input schema of the token stream (BASELINE.json input_hint): the
    * stored token table's [[graft.sources.TokenTable.Schema]] without the
    * `okey` foreign key, which no stream reads.
    */
  val tokenSchema: StructType =
    StructType(graft.sources.TokenTable.Schema.filterNot(_.name == "okey"))

  /** Stateless violation stream: the batch compiler over the rule set
    * without its unique rules (uniqueness is the stateful
    * [[uniqueViolationStream]]). Output schema = batch
    * [[Validator.violations]] (doc_id, rule_id, detail, severity, source);
    * works in append mode with no watermark.
    */
  def violationStream(
      stream: DataFrame, ruleSet: RuleSet,
      dims: Map[String, DataFrame]): DataFrame =
    Validator.violations(stream,
      ruleSet.copy(rules = ruleSet.rules.filterNot(_.isInstanceOf[UniqueRule])),
      dims)

  /** Stateful streaming uniqueness: emits a violation row whenever a doc_id
    * arrives that was already seen (in this or any earlier micro-batch).
    * One (count, minSource) state row per distinct key, partitioned by key,
    * held by whatever provider the session configures for as long as the
    * query runs (the bounded harnesses release it when the query ends).
    *
    * Semantics vs batch [[Validator.uniqueViolations]]: batch reports each
    * duplicated key once with its final count and min(source) over ALL rows
    * of the key; the stream reports a key each time NEW duplicates arrive,
    * carrying the running count and the running global min(source) — the
    * state keeps (count, minSource) so the final emission matches the batch
    * row exactly, independent of arrival order.
    */
  def uniqueViolationStream(stream: DataFrame): Dataset[DetailedViolation] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("doc_id"), col("source")).as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (docId: String, rows: Iterator[(String, String)],
         state: GroupState[(Long, String)]) => {
          // fold the iterator — count and min don't need the key's whole
          // micro-batch co-resident in memory (a hot key's rows can be
          // arbitrarily many, and exactly when streaming uniqueness matters)
          val (prevCnt, prevMin) = state.getOption.getOrElse((0L, null: String))
          var batchN = 0L
          var minSrc = prevMin
          rows.foreach { case (_, src) =>
            batchN += 1
            // null sources count but never win the min (batch `min` skips
            // nulls)
            if (src != null && (minSrc == null || src < minSrc)) minSrc = src
          }
          val total = prevCnt + batchN
          state.update((total, minSrc))
          if (total > 1 && batchN > 0)
            Iterator(DetailedViolation(docId, "unique_doc_id",
              s"doc_id occurs $total times", "warning", minSrc))
          else Iterator.empty
        })
  }

  /** One-shot STATEFUL streaming uniqueness over a parquet token table
    * (Trigger.AvailableNow): [[uniqueViolationStream]]'s per-key
    * (count, minSource) state emits a row each time new duplicates of a key
    * arrive; since the running count strictly increases per emission, the
    * FINAL emission per key (max count) carries the key's total count and
    * global min source — which must equal the batch
    * [[Validator.uniqueViolations]] row exactly, independent of how files
    * split into micro-batches. Returns (doc_id, cnt, source), a lazy frame
    * over the finished run's memory sink; the run's state is already
    * released.
    */
  def runUniqueAvailableNow(
      spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 64): DataFrame = {
    // 64 files/trigger (round 7): the token cache is 32 files × 4 source
    // dirs = 128 leaves, so this is TWO micro-batches — duplicate groups
    // still span batches (the cross-batch state stays exercised; the final
    // emission is batching-independent by contract) at half the per-batch
    // state-commit overhead of the old 32 (4 batches; measured 6.2 → ~4 s
    // at sf0.1)
    val stream = spark.readStream
      .schema(tokenSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
    finalEmissions(BoundedStream.toMemory(
      uniqueViolationStream(stream).toDF(), "graft_stream_unique"))
  }

  /** Reduce a (possibly multi-emission) stateful-uniqueness output to the
    * FINAL row per key: the running count strictly increases per emission,
    * so max(cnt) is the key's total and the source carried at max(cnt) is
    * the global min source — together exactly the batch
    * [[Validator.uniqueViolations]] row.
    */
  def finalEmissions(emitted: DataFrame): DataFrame =
    emitted
      .select(col("doc_id"),
        regexp_extract(col("detail"), "occurs ([0-9]+) times", 1)
          .cast("bigint").as("cnt"),
        col("source"))
      .groupBy("doc_id")
      .agg(max(col("cnt")).as("cnt"),
        max_by(col("source"), col("cnt")).as("source"))

  /** Stateful streaming uniqueness with the PRODUCTION sink shape: a
    * parquet FILE sink plus an explicit `checkpointLocation` (the memory
    * sink above is a driver-collected oracle harness). Safe to invoke
    * repeatedly with the same checkpoint/output dirs — each invocation is a
    * RESTART: Trigger.AvailableNow processes only source files not yet
    * committed in the checkpoint, with per-key (count, minSource) state
    * restored from the state store, and appends its emissions to the sink
    * (exactly-once via the sink's `_spark_metadata` log). Returns the final
    * per-key rows over everything emitted so far; StreamingSpec asserts a
    * kill-between-batches restart converges to the batch duplicate set.
    * Each invocation releases its state-store providers when it ends; the
    * next one reloads the state from the checkpoint under a new run id.
    */
  def runUniqueToFileSink(
      spark: SparkSession, path: String, checkpointDir: String,
      outDir: String, maxFilesPerTrigger: Int = 4): DataFrame = {
    val stream = spark.readStream
      .schema(tokenSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
    val q = uniqueViolationStream(stream).toDF().writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    BoundedStream.await(q)
    // explicit schema: a violation-free first leg commits zero data files
    // and schema inference would fail on the metadata-only directory
    finalEmissions(spark.read
      .schema(Encoders.product[DetailedViolation].schema).parquet(outDir))
  }

  /** One-shot streaming run over a (partitioned) parquet token table using
    * `Trigger.AvailableNow`: processes the table as a bounded stream of
    * micro-batches (`maxFilesPerTrigger` files each) and returns the final
    * aggregate — the deterministic harness used by `SparkEntry` so the
    * streaming path is oracle-checked like every batch operator.
    */
  def runRuleMatrixAvailableNow(
      spark: SparkSession, path: String, ruleSet: RuleSet,
      dims: Map[String, DataFrame], maxFilesPerTrigger: Int = 32): DataFrame = {
    val stream = spark.readStream
      .schema(tokenSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)
    val agg = violationStream(stream, ruleSet, dims)
      .groupBy("source", "rule_id").agg(count(lit(1)).as("cnt"))
    BoundedStream.toMemory(agg, "graft_stream_matrix", outputMode = "complete")
  }
}
