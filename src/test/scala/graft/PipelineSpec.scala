package graft

import org.apache.spark.sql.functions._
import graft.engine.{Pipeline, SnapshotDiff, ValidationRunner, Validator}
import graft.rules._
import graft.sources.TokenTable

/** The composed lifecycle (VERDICT r5 #5): schema gate → routed repair →
  * resumable validate → quarantine split → artifact report, one call —
  * plus the null-source partition fix in the resumable runner (a NULL
  * source must be validated under the sentinel, not silently escape).
  */
class PipelineSpec extends SparkSpec {

  // the registry routing shape: R gets a lenient 2-rule set, everything
  // else the strict default (len fix carried by BOTH, so repair is
  // effectively ungated for the length rule)
  private val routingJson =
    """{ "ruleSets": {
      |    "strict": [
      |      {"type":"notNull","id":"not_null_tokens","column":"tokens","severity":"fatal"},
      |      {"type":"lengthConsistency","id":"len_consistency","arrayColumn":"tokens","lengthColumn":"n_tok"},
      |      {"type":"range","id":"n_tok_range","column":"n_tok","lo":1,"hi":1048576,"severity":"warning"},
      |      {"type":"referential","id":"ref_source","column":"source","dimension":"allowed_sources"},
      |      {"type":"unique","id":"unique_doc_id","column":"doc_id","severity":"warning"}
      |    ],
      |    "lenient": [
      |      {"type":"notNull","id":"not_null_tokens","column":"tokens","severity":"fatal"},
      |      {"type":"lengthConsistency","id":"len_consistency","arrayColumn":"tokens","lengthColumn":"n_tok"}
      |    ]
      |  },
      |  "routing": { "R": "lenient" },
      |  "defaultRuleSet": "strict" }""".stripMargin

  private def dims = Map("allowed_sources" -> TokenTable.allowedDim(spark))

  test("composed lifecycle: gate → repair → validate → quarantine → report") {
    val routing = RuleSetLoader.parse(routingJson)
    val tok = TokenTable.tokens(spark, sf0001)
    withTempDir("graft_pipe") { base =>
      val res = Pipeline.run(spark, tok, routing, dims,
        Some(TokenTable.ExpectedSchema), s"$base/manifest", 1L,
        s"$base/q", reportDir = Some(s"$base/report"))

      assert(res.skipped.isEmpty && res.failed.isEmpty)
      assert(res.validated.nonEmpty)

      // row conservation: the split output carries every input row
      assert(res.summary.agg(sum("n_rows")).first().getLong(0) === tok.count())
      assert(res.table.count() === tok.count())

      // repairs = exactly the length-mismatch rows (the range clamp never
      // fires at [1, 1048576) on this fixture), audited under the rule id
      val expRepairs = tok.where(col("tokens").isNotNull &&
        size(col("tokens")) =!= col("n_tok")).count()
      assert(expRepairs > 0, "fixture must carry length mismatches")
      assert(res.summary.agg(sum("n_repaired")).first().getLong(0)
        === expRepairs)
      val audit = res.audit.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(audit === Map("len_consistency" -> expRepairs))

      // quarantine = every copy of a doc_id holding an error-severity
      // violation POST-repair: with len_consistency healed, only ref_source
      // errors remain ('bogus' sources), joined back over the whole corpus
      val badIds = tok.where(!col("source").isin("A", "N", "R"))
        .select("doc_id").distinct()
      val expQ = tok.join(badIds, Seq("doc_id"), "leftsemi").count()
      assert(res.summary.agg(sum("n_quarantined")).first().getLong(0) === expQ)

      // split layout keeps BOTH prune levels (VERDICT r5 #4)
      val cleanDirs = new java.io.File(s"$base/q/bucket=clean")
        .listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(cleanDirs.nonEmpty && cleanDirs.forall(_.startsWith("source=")))
      assert(new java.io.File(s"$base/q/bucket=quarantine").isDirectory)

      // report assembled from the persisted violations
      assert(res.reportPath.isDefined)
      assert(new java.io.File(res.reportPath.get).exists())

      // re-run at the same snapshot: manifest resume validates NOTHING and
      // reproduces the same summary (quarantine/report rebuilt from store)
      val res2 = Pipeline.run(spark, tok, routing, dims,
        Some(TokenTable.ExpectedSchema), s"$base/manifest", 1L,
        s"$base/q", reportDir = Some(s"$base/report"))
      assert(res2.validated.isEmpty)
      assert(res2.skipped.toSet === res.validated.toSet ++ res.skipped.toSet)
      assert(res2.summary.collect().toSet === res.summary.collect().toSet)
    }
  }

  test("schema gate rejects a mis-typed table before anything is written") {
    val bad = TokenTable.tokens(spark, sf0001)
      .withColumn("n_tok", col("n_tok").cast("bigint"))
    withTempDir("graft_pipe_gate") { base =>
      val ex = intercept[IllegalArgumentException] {
        Pipeline.run(spark, bad, RuleSetLoader.parse(routingJson), dims,
          Some(TokenTable.ExpectedSchema), s"$base/manifest", 1L, s"$base/q")
      }
      assert(ex.getMessage.contains("n_tok"))
      assert(ex.getMessage.contains("type_mismatch"))
      // the gate is metadata-only and fails BEFORE any sink exists
      assert(!new java.io.File(s"$base/q").exists())
      assert(!new java.io.File(s"$base/manifest").exists())
    }
  }

  test("null-source rows are validated under the sentinel, never skipped") {
    val s = spark
    import s.implicits._
    // two of three violations live in the NULL-source slice: before the
    // sentinel fix the runner's isin(pending) silently dropped that slice
    val df = Seq(
      ("d1", Some(Seq(1, 2)), 2, Some("A")),
      ("d2", Some(Seq(1, 2)), 3, None), // length mismatch, null source
      ("d3", None, 1, None)             // null tokens, null source
    ).toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("tokens", col("tokens").cast("array<int>"))
    val rules = RuleSet("t", Seq(
      NotNullRule("nn", "tokens", severity = "fatal"),
      LengthConsistencyRule("lc", "tokens", "n_tok")))
    withTempDir("graft_nullsrc") { base =>
      val res = ValidationRunner.runResumableWith(spark, df,
        d => Validator.violations(d, rules, Map.empty),
        s"$base/m", 1L)
      assert(res.validatedPartitions.toSet ===
        Set("A", SnapshotDiff.NullSourceSentinel))
      val bySrc = res.summary.collect()
        .map(r => Option(r.getString(0)) ->
          (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
      assert(bySrc(Some("A")) === ((1L, 0L, true)))
      assert(bySrc(None) === ((2L, 2L, false)),
        "null slice: 2 rows, 2 violations, fail")
      // and the sentinel keys the manifest: a re-run resumes it, too
      val res2 = ValidationRunner.runResumableWith(spark, df,
        d => Validator.violations(d, rules, Map.empty),
        s"$base/m", 1L)
      assert(res2.validatedPartitions.isEmpty)
      assert(res2.skippedPartitions.toSet ===
        Set("A", SnapshotDiff.NullSourceSentinel))
    }
  }

  test("pipeline summary keeps the NULL-source slice's repair counts") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("d1", Some(Seq(1, 2)), 2, Some("A")),
      ("d2", Some(Seq(1, 2)), 3, None), // length mismatch: repaired
      ("d3", None, 1, None)             // null tokens: quarantined
    ).toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("tokens", col("tokens").cast("array<int>"))
    val routing = RuleSetLoader.parse(
      """{ "ruleSets": { "strict": [
        |  {"type":"notNull","id":"nn","column":"tokens","severity":"error"},
        |  {"type":"lengthConsistency","id":"lc","arrayColumn":"tokens","lengthColumn":"n_tok"}
        |] }, "routing": {}, "defaultRuleSet": "strict" }""".stripMargin)
    withTempDir("graft_pipe_nullsrc") { base =>
      def run() = Pipeline.run(spark, df, routing, Map.empty, None,
        s"$base/manifest", 1L, s"$base/q")
      // d3's error violation must come back out of the violation store
      // (its directory is the NULL partition) to reach the quarantine, and
      // the summary must join the split's counts to the NULL source.
      // (n_rows, n_violations, n_repaired, n_quarantined) per source
      def bySrc(res: Pipeline.Result) = res.summary.collect()
        .map(r => Option(r.getString(0)) ->
          ((r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))).toMap
      val want = Map(Some("A") -> ((1L, 0L, 0L, 0L)),
        None -> ((2L, 1L, 1L, 1L)))
      val first = run()
      assert(first.validated.toSet === Set("A", SnapshotDiff.NullSourceSentinel))
      assert(bySrc(first) === want)
      // the resumed leg reports the same NULL source (not the sentinel key)
      val second = run()
      assert(second.validated.isEmpty)
      assert(bySrc(second) === want)
    }
  }

  test("pipeline appends run metrics and evaluates the SLA suite") {
    import graft.engine.{Expectations, MetricsStore}
    val routing = RuleSetLoader.parse(routingJson)
    val tok = TokenTable.tokens(spark, sf0001)
    withTempDir("graft_pipe_sla") { base =>
      val res = Pipeline.run(spark, tok, routing, dims,
        Some(TokenTable.ExpectedSchema), s"$base/manifest", 1L,
        s"$base/q", metricsDir = Some(s"$base/metrics"), runId = 1L,
        expectations = Expectations.defaultSuite(routing))

      // metrics: one zero-filled row per rule in the routed UNION
      val allIds = routing.ruleSets.values.flatMap(_.rules.map(_.id))
        .toSeq.distinct.sorted
      val hist = MetricsStore.history(spark, s"$base/metrics")
      assert(hist.select("rule_id").collect().map(_.getString(0)).sorted
        .toSeq === allIds)
      assert(hist.select("run_id").distinct().collect()
        .map(_.getLong(0)).toSeq === Seq(1L))
      // metrics counts equal the stored per-rule violation counts; the
      // post-repair corpus has zero len_consistency violations (repaired)
      val byRule = hist.collect()
        .map(r => r.getString(2) -> r.getLong(3)).toMap
      assert(byRule("len_consistency") === 0L)
      assert(byRule("ref_source") > 0L)

      // suite: every routed rule verdicts once; repair makes
      // len_consistency PASS, the injected bogus sources breach ref_source
      val suite = res.suite.get.collect()
        .map(r => r.getString(0) -> r.getString(5)).toMap
      assert(suite.keySet === allIds.toSet)
      assert(suite("len_consistency") === "PASS")
      assert(suite("ref_source") === "FAIL")
    }
  }

  test("pipeline drift gate: self-baseline is flat, shifted baseline drifts") {
    import graft.engine.MetricsStore
    val routing = RuleSetLoader.parse(routingJson)
    val tok = TokenTable.tokens(spark, sf0001)
    withTempDir("graft_pipe_drift") { base =>
      // baseline = the same corpus: surviving sources are flat (PSI ~0),
      // but `bogus` — fully quarantined out of the clean side — reads as
      // drifted (the vanish case IS drift, by the epsilon-floor definition)
      val flat = Pipeline.run(spark, tok, routing, dims,
        None, s"$base/m1", 1L, s"$base/q1",
        metricsDir = Some(s"$base/metrics"), runId = 1L,
        driftBaseline = Some(tok))
      val flatRows = flat.drift.get.collect()
        .map(r => r.getString(0) -> r.getBoolean(2)).toMap
      assert(Seq("A", "N", "R").forall(s => !flatRows(s)),
        s"surviving sources must not drift vs self-baseline: $flatRows")
      assert(flatRows("bogus"),
        "a fully-quarantined source must read as drifted (vanish case)")
      // baseline with shifted n_tok distribution → every source drifts
      val shifted = tok.withColumn("n_tok", col("n_tok") + 40)
      val moved = Pipeline.run(spark, tok, routing, dims,
        None, s"$base/m2", 2L, s"$base/q2",
        metricsDir = Some(s"$base/metrics"), runId = 2L,
        driftBaseline = Some(shifted))
      assert(moved.drift.get.collect().forall(_.getBoolean(2)))
      // drifted-source counts land in the metrics table per run:
      // run 1 = just the vanished `bogus`; run 2 = all four sources
      val m = MetricsStore.history(spark, s"$base/metrics")
        .where(col("rule_id") === "drift_psi_sources")
        .select("run_id", "n_violations")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m(1L) === 1L)
      assert(m(2L) === 4L)
    }
  }

  test("bucketed clean layout through the lifecycle: same summary, exchange-free") {
    val routing = RuleSetLoader.parse(routingJson)
    val tok = TokenTable.tokens(spark, sf0001)
    withTempDir("graft_pipe_bk") { base =>
      val tbl = "graft_spec_pipeline_bk"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val plain = Pipeline.run(spark, tok, routing, dims,
        None, s"$base/m1", 1L, s"$base/q1")
      val bucketed = Pipeline.run(spark, tok, routing, dims,
        None, s"$base/m2", 1L, s"$base/q2",
        bucketedCleanTable = Some(tbl))
      def summ(r: Pipeline.Result) = r.summary
        .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2),
          x.getBoolean(3), x.getLong(4), x.getLong(5))).toSet
      assert(summ(bucketed) === summ(plain),
        "layout must not change the lifecycle's verdicts")
      // the adjudicated payoff: a repeat uniqueness validation of the clean
      // side groups on the bucket key without a corpus-wide exchange
      val clean = spark.table(tbl).where(col("bucket") === "clean")
      val agg = clean.groupBy("doc_id").agg(count(lit(1)))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(1200))
    }
  }
}
