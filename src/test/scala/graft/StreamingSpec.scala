package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryException, StreamingQueryListener}
import graft.rules.{RuleSet, UniqueRule}
import graft.sources.TokenTable
import graft.streaming.{StreamingDrift, StreamingValidation}

/** Structured-Streaming behavior: stateless rule stream, stateful streaming
  * uniqueness, and windowed sketch drift with watermark-driven emission.
  */
case class In(doc_id: String, tokens: Seq[Int], n_tok: Int, source: String)
case class TimedIn(doc_id: String, tokens: Seq[Int], n_tok: Int,
    source: String, ts: java.sql.Timestamp)

class StreamingSpec extends SparkSpec {

  import java.sql.Timestamp

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")

  test("stateless violation stream matches batch semantics per micro-batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[In]
    val ruleSet = RuleSet.default(100)
    val dims = Map("allowed_sources" -> TokenTable.allowedDim(spark))
    val out = StreamingValidation.violationStream(
      mem.toDF(), ruleSet, dims)
    val q = out.writeStream.format("memory").queryName("sv_test")
      .outputMode("append").start()
    try {
      mem.addData(
        In("ok", Seq(1, 2), 2, "A"),
        In("short", Seq(1), 2, "A"),        // len_consistency
        In("oov", Seq(999), 1, "N"),        // token_bounds (vocab=100)
        In("badsrc", Seq(1), 1, "X"))       // ref_source
      q.processAllAvailable()
      val got = spark.table("sv_test")
        .select("doc_id", "rule_id").as[(String, String)].collect().toSet
      assert(got === Set(
        ("short", "len_consistency"), ("oov", "token_bounds"),
        ("badsrc", "ref_source")))
      // second micro-batch appends independently
      mem.addData(In("late", null, 1, "A")) // not_null_tokens
      q.processAllAvailable()
      val got2 = spark.table("sv_test")
        .select("doc_id", "rule_id").as[(String, String)].collect().toSet
      assert(got2.contains(("late", "not_null_tokens")))
      assert(got2.size === 4)
    } finally q.stop()
  }

  test("stateful streaming uniqueness fires on re-occurrence across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[In]
    val out = StreamingValidation.uniqueViolationStream(mem.toDF())
    val q = out.writeStream.format("memory").queryName("su_test")
      .outputMode("append").start()
    try {
      mem.addData(In("a", Seq(1), 1, "A"), In("b", Seq(1), 1, "A"))
      q.processAllAvailable()
      assert(spark.table("su_test").count() === 0)
      // duplicate within one batch AND duplicate across batches
      mem.addData(In("a", Seq(1), 1, "N"), In("c", Seq(1), 1, "A"),
        In("c", Seq(2), 1, "R"))
      q.processAllAvailable()
      val got = spark.table("su_test")
        .select("doc_id", "detail").as[(String, String)].collect().toMap
      assert(got === Map(
        "a" -> "doc_id occurs 2 times",
        "c" -> "doc_id occurs 2 times"))
    } finally q.stop()
  }

  test("streaming uniqueness reports the global min(source), not the batch min") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[In]
    val out = StreamingValidation.uniqueViolationStream(mem.toDF())
    val q = out.writeStream.format("memory").queryName("su_minsrc")
      .outputMode("append").start()
    try {
      // first occurrence arrives with the LOWER source; the duplicate batch
      // carries only the higher one — batch-local min would emit "R"
      mem.addData(In("m", Seq(1), 1, "A"))
      q.processAllAvailable()
      mem.addData(In("m", Seq(1), 1, "R"))
      q.processAllAvailable()
      val got = spark.table("su_minsrc")
        .select("doc_id", "source").as[(String, String)].collect().toSeq
      assert(got === Seq(("m", "A")))
    } finally q.stop()
  }

  test("streaming uniqueness state survives a checkpointed restart") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft-stream-ckpt") { ckpt =>
      val mem = MemoryStream[In]
      val out = StreamingValidation.uniqueViolationStream(mem.toDF())
      val seen = new scala.collection.mutable.ArrayBuffer[(String, String)]()
      def run(): Unit = {
        val q = out.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.model.DetailedViolation], _: Long) =>
            seen.synchronized {
              seen ++= batch.collect().map(v => (v.doc_id, v.detail))
            }
            ()
          }
          .start()
        q.processAllAvailable()
        q.stop()
      }
      mem.addData(In("k", Seq(1), 1, "A"))
      run() // first occurrence: no violation, but state (count=1) checkpointed
      assert(seen.isEmpty)
      mem.addData(In("k", Seq(2), 1, "N"))
      run() // restart from the checkpoint: restored state makes this count 2
      assert(seen.toSeq === Seq(("k", "doc_id occurs 2 times")))
    }
  }

  test("stateful uniqueness: file sink + checkpoint restart equals batch") {
    // the PRODUCTION shape (the memory-sink tests above are driver-collected
    // harnesses): parquet file sink + explicit checkpointLocation, killed
    // after the first batch of files and RESTARTED when more arrive — the
    // restored state store must carry (count, minSource) across the restart
    // so the final emissions equal the batch duplicate set exactly
    val s = spark
    import s.implicits._
    import graft.model.TokenRow
    withTempDir("graft-stream-fsink") { base =>
      val in = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
      Seq(TokenRow("dup", Array(1), 1, "N"), TokenRow("a", Array(1), 1, "A"))
        .toDF.repartition(2).write.mode("append").parquet(in)
      val leg1 = StreamingValidation.runUniqueToFileSink(
        spark, in, ckpt, out, maxFilesPerTrigger = 1)
      assert(leg1.count() === 0) // 'dup' seen once: state built, nothing fires
      // the second half arrives after the kill: 'dup' recurs (cross-restart
      // duplicate — only restored state can see it) plus a new same-leg pair
      Seq(TokenRow("dup", Array(2), 1, "A"), TokenRow("c", Array(3), 1, "R"),
          TokenRow("c", Array(4), 1, "A"))
        .toDF.repartition(2).write.mode("append").parquet(in)
      val fin = StreamingValidation.runUniqueToFileSink(
          spark, in, ckpt, out, maxFilesPerTrigger = 1)
        .as[(String, Long, String)].collect().toSet
      val batch = graft.engine.Validator.uniqueViolations(
          spark.read.parquet(in), graft.rules.UniqueRule("u", "doc_id"))
        .select(col("doc_id"),
          regexp_extract(col("detail"), "occurs ([0-9]+) times", 1)
            .cast("bigint"), col("source"))
        .as[(String, Long, String)].collect().toSet
      assert(fin === batch)
      assert(fin === Set(("dup", 2L, "A"), ("c", 2L, "A")))
    }
  }

  test("windowed sketch drift emits closed windows with correct verdicts") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TimedIn]
    // baseline: n_tok uniform around 10 for source A
    val baseline = Seq.tabulate(50)(i => In(s"b$i", Seq(1), 10, "A")).toDF()
    val baseQs = graft.engine.Drift.baselineQuantiles(
      baseline, "n_tok", k = 200, ps = Seq(0.5))
    val out = StreamingDrift.windowedSketchDrift(
      mem.toDF(), "ts", "10 minutes", "5 minutes", baseQs, "n_tok",
      k = 200, ps = Seq(0.5), threshold = 3.0)
    val q = out.writeStream.format("memory").queryName("sd_test")
      .outputMode("append").start()
    try {
      // window [10:00,10:10): n_tok ≈ 10 (no drift)
      // window [10:10,10:20): n_tok ≈ 30 (drift)
      mem.addData(
        TimedIn("w1a", Seq(1), 10, "A", ts(1)),
        TimedIn("w1b", Seq(1), 11, "A", ts(5)),
        TimedIn("w2a", Seq(1), 30, "A", ts(11)),
        TimedIn("w2b", Seq(1), 31, "A", ts(15)))
      q.processAllAvailable()
      // advance the watermark beyond both windows to force emission
      mem.addData(TimedIn("flush", Seq(1), 10, "A", ts(40)))
      q.processAllAvailable()
      val got = spark.table("sd_test")
        .select(col("window_start").cast("string"), col("drifted"))
        .as[(String, Boolean)].collect().toMap
      assert(got("2026-01-01 10:00:00") === false)
      assert(got("2026-01-01 10:10:00") === true)
    } finally q.stop()
  }

  test("AvailableNow streaming rule matrix equals the batch rule matrix") {
    val path = TokenTable.materializedPath(spark, sf0001)
    val ruleSet = RuleSet.default(TokenTable.Vocab)
    val dims = Map("allowed_sources" -> TokenTable.allowedDim(spark))
    val streamed = StreamingValidation.runRuleMatrixAvailableNow(
      spark, path, ruleSet, dims, maxFilesPerTrigger = 4)
      .orderBy("source", "rule_id").collect().toSeq
    val batch = graft.engine.Validator.violations(
        TokenTable.tokens(spark, sf0001), ruleSet, dims)
      .where(col("rule_id") =!= "unique_doc_id")
      .groupBy("source", "rule_id").agg(count(lit(1)).as("cnt"))
      .orderBy("source", "rule_id").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("stateful streaming dedup drops repeat fingerprints across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocIn]
    val out = graft.streaming.StreamingDedup.dedupStream(mem.toDF())
    val q = out.writeStream.format("memory").queryName("sdd_test")
      .outputMode("append").start()
    try {
      // batch 1: b is a's word-set permutation -> same fingerprint, dropped
      mem.addData(
        DocIn(1L, "alpha beta gamma", "S1"),
        DocIn(2L, "gamma  beta alpha", "S1"),
        DocIn(3L, "delta epsilon", "S1"))
      q.processAllAvailable()
      assert(spark.table("sdd_test").count() === 2)
      // batch 2: same fingerprint again in S1 (dropped by CROSS-batch
      // state), same fingerprint in S2 (new key, kept)
      mem.addData(
        DocIn(4L, "beta gamma alpha", "S1"),
        DocIn(5L, "alpha beta gamma", "S2"))
      q.processAllAvailable()
      val got = spark.table("sdd_test")
        .select("source").as[String].collect().toSeq
      assert(got.count(_ == "S1") === 2)
      assert(got.count(_ == "S2") === 1)
    } finally q.stop()
  }

  test("AvailableNow streaming dedup equals batch distinct fingerprints") {
    val path = graft.sources.DocSource.materializedDocs(spark, sf0001)
    val streamed = graft.streaming.StreamingDedup
      .runDedupAvailableNow(spark, path, maxFilesPerTrigger = 2)
      .orderBy("source").collect().toSeq
    val batch = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("source"),
        graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      .groupBy("source")
      .agg(countDistinct(col("fp")).as("n_unique_fps"))
      .orderBy("source").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("watermark-bounded dedup drops in-window, re-admits after eviction") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EvIn]
    val out = graft.streaming.StreamingDedup
      .dedupWithinWatermark(mem.toDF(), "ts", "60 seconds",
        Seq("user_id", "event_type"))
      .select("user_id", "event_type")
    val q = out.writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    def t(v: String) = Timestamp.valueOf(v)
    try {
      mem.addData(EvIn(t("2026-01-01 00:00:00"), 1L, "a"))
      q.processAllAvailable() // first arrival: emitted, state opens
      mem.addData(
        EvIn(t("2026-01-01 00:00:30"), 1L, "a"),  // in-window dup: dropped
        EvIn(t("2026-01-01 01:00:00"), 2L, "a"))  // watermark → 00:59:00
      q.processAllAvailable()
      mem.addData(EvIn(t("2026-01-01 01:00:30"), 1L, "a"))
      q.processAllAvailable() // u1 state evicted (expiry 00:01:00) → re-admit
      val emits = spark.table("wm_dedup")
        .groupBy("user_id").count().as[(Long, Long)].collect().toMap
      assert(emits(1L) === 2L, "initial + post-eviction re-admission")
      assert(emits(2L) === 1L)
    } finally q.stop()
  }

  test("AvailableNow watermark dedup with no eviction equals batch distinct") {
    val path = graft.sources.EventSource.materializedPath(spark, sf0001)
    val streamed = graft.streaming.StreamingDedup
      .runEventDedupAvailableNow(spark, path, maxFilesPerTrigger = 2)
      .orderBy("event_type").collect().toSeq
    val batch = spark.read.parquet(s"$sf0001/events.parquet")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_unique_users"))
      .orderBy("event_type").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  private def graftViews(): Set[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_")).toSet

  /** `body`'s result plus every streaming query it started. The started
    * event reaches a session listener on the query's own thread before
    * `start()` returns, while the query is still registered as active.
    */
  private def withQueries[T](body: => T): (T, Seq[StreamingQuery]) = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]()
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        Option(spark.streams.get(e.id)).foreach(started.add)
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val out = body
      (out, started.asScala.toSeq)
    } finally spark.streams.removeListener(listener)
  }

  private def usedRocksDB(q: StreamingQuery): Boolean =
    q.lastProgress.stateOperators.exists(
      _.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb")))

  test("a failed bounded stream rethrows and leaves no sink view behind") {
    withTempDir("graft-stream-bad") { dir =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-00000.parquet"),
        "not a parquet file".getBytes("UTF-8"))
      val before = graftViews()
      intercept[StreamingQueryException] {
        StreamingValidation.runUniqueAvailableNow(spark, dir)
      }
      assert(graftViews() -- before === Set.empty[String])
    }
  }

  test("bounded streams drop their sink view and unload their state stores") {
    val s = spark
    import s.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val providerBefore = spark.conf.getOption(providerKey)
    val before = graftViews()
    // the six registry queries, one per bounded-stream harness
    val outs = Seq("s_stream_rule_matrix", "s_stream_unique", "s_window_drift",
        "s_sessionize", "s_stream_dedup", "s_event_dedup_wm").map { name =>
      val (out, qs) = withQueries(SparkEntry.queries(name)(spark, sf0001))
      assert(qs.size === 1, name)
      val providers = bridge.stateStoreProviders(qs.head)
      assert(providers.nonEmpty, s"$name: no state-store provider found")
      assert(providers.filter(StateStore.isLoaded) === Seq.empty,
        s"$name left providers loaded")
      // RocksDB for the two dedup harnesses only, scoped to their start()
      assert(usedRocksDB(qs.head) === name.contains("dedup"), name)
      name -> out
    }.toMap
    assert(spark.conf.getOption(providerKey) === providerBefore)
    assert(graftViews() -- before === Set.empty[String])

    // the returned frames read the sink itself, not its dropped view
    val tokens = TokenTable.materializedPath(spark, sf0001)
    val batchUnique = graft.engine.Validator.uniqueViolations(
        spark.read.parquet(tokens), UniqueRule("unique_doc_id", "doc_id"))
      .select(col("doc_id"),
        regexp_extract(col("detail"), "occurs ([0-9]+) times", 1)
          .cast("bigint"), col("source"))
      .as[(String, Long, String)].collect().toSet
    assert(batchUnique.nonEmpty)
    for (_ <- 1 to 2)
      assert(outs("s_stream_unique").as[(String, Long, String)].collect().toSet
        === batchUnique)
    outs.foreach { case (name, out) => assert(out.count() > 0, name) }
  }
}

case class DocIn(doc_id: Long, text: String, source: String)
case class EvIn(ts: java.sql.Timestamp, user_id: Long, event_type: String)
