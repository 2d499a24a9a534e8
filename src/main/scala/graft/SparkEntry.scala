package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{StatsOps, Validator}
import graft.rules.RuleSet
import graft.sources.{Fs, TokenTable}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator of the validation engine
  * (SURVEY.md §2) run over the token view derived from the driver's parquet
  * tables; [[oracleSql]] holds the equivalent DuckDB SQL. Column names and
  * row order are kept identical on both sides.
  */
object SparkEntry {

  private val Q = graft.Queries

  /** Flagship: full rule-set pass → per-source pass/fail summary.
    * Driver smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    Q.vSummary(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Q.registry

  def oracleSql: Map[String, String] = Q.oracles
}

/** Query registry + DuckDB oracles, kept side by side so each pair stays in
  * lockstep. `tok` below is the deterministic token view (TokenTable.duckCte).
  */
object Queries {

  private def tok(spark: SparkSession, dir: String): DataFrame =
    TokenTable.tokens(spark, dir)
  private def dims(spark: SparkSession): Map[String, DataFrame] =
    Map("allowed_sources" -> TokenTable.allowedDim(spark))
  private def ruleSet: RuleSet = RuleSet.default(TokenTable.Vocab)

  private def detailed(spark: SparkSession, dir: String): DataFrame =
    Validator.violations(tok(spark, dir), ruleSet, dims(spark))

  // ---- engine queries ------------------------------------------------------

  def vViolations(spark: SparkSession, dir: String): DataFrame =
    Validator.canonical(detailed(spark, dir))
      .orderBy("doc_id", "rule_id", "detail")

  def vSummary(spark: SparkSession, dir: String): DataFrame =
    Validator.summary(tok(spark, dir), detailed(spark, dir)).orderBy("source")

  def vRuleMatrix(spark: SparkSession, dir: String): DataFrame =
    Validator.ruleMatrix(detailed(spark, dir)).orderBy("source", "rule_id")

  def vDedupIssues(spark: SparkSession, dir: String): DataFrame =
    Validator.dedupIssues(detailed(spark, dir))
      .orderBy("severity", "rule_id", "detail_generic")

  def vStats(spark: SparkSession, dir: String): DataFrame =
    StatsOps.columnStats(tok(spark, dir)).orderBy("source")

  def vHistogram(spark: SparkSession, dir: String): DataFrame =
    StatsOps.lengthHistogram(tok(spark, dir)).orderBy("source", "bucket")

  def vQuantiles(spark: SparkSession, dir: String): DataFrame =
    StatsOps.lengthQuantiles(tok(spark, dir), Seq(0.25, 0.5, 0.75, 0.95))
      .orderBy("source")

  /** Per-source top-5 token ids by frequency — vocabulary-level stats over
    * the tokens payload itself (oracle regenerates every token in closed
    * form).
    */
  def vTokenTopk(spark: SparkSession, dir: String): DataFrame =
    StatsOps.topTokens(tok(spark, dir), 5)
      .orderBy("source", "rank")

  /** Baseline snapshot for drift: the deterministic half of the table with
    * even l_orderkey (a stand-in for "previous Iceberg snapshot").
    */
  private def baselineTok(spark: SparkSession, dir: String): DataFrame =
    TokenTable.tokensBaseline(spark, dir)

  def vDriftExact(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Drift.exactQuantileDrift(
        tok(spark, dir), baselineTok(spark, dir), "n_tok",
        Seq(0.5, 0.95), threshold = 1.0)
      .orderBy("source")

  def vDriftSketch(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Drift.sketchQuantileDrift(
        tok(spark, dir), baselineTok(spark, dir), "n_tok",
        k = 200, Seq(0.5, 0.95), threshold = 2.0)
      .orderBy("source")

  /** Error-bound anchor for the KLL sketch drift (VERDICT r1 #2, tightened
    * r4 per VERDICT r3 #9): the exact per-source deltas (oracle-recomputed)
    * + a RANK-SPACE bracket — each snapshot's sketch quantile at p must lie
    * between the exact quantiles at p∓eps(k)
    * ([[graft.engine.Drift.sketchRankBound]], eps = 6/k above the KLL
    * library's rank-error bound) — replacing the old hand-tuned
    * ±2.0 value-space slack; the bound now tightens automatically as k
    * grows.
    */
  def vDriftSketchBound(spark: SparkSession, dir: String): DataFrame = {
    val ps = Seq(0.5, 0.95)
    val exact = graft.engine.Drift.exactQuantileDrift(
      tok(spark, dir), baselineTok(spark, dir), "n_tok", ps, threshold = 1.0)
    def ok(df: DataFrame, name: String): DataFrame =
      graft.engine.Drift.sketchRankBound(df, "n_tok", 200, ps,
          integerValued = true)
        .select(col("source"),
          (col("within_q0") && col("within_q1")).as(name))
    exact.select(col("source"), col("delta_q0"), col("delta_q1"))
      .join(ok(tok(spark, dir), "_cur_ok"), Seq("source"))
      .join(ok(baselineTok(spark, dir), "_base_ok"), Seq("source"))
      .select(col("source"), col("delta_q0"), col("delta_q1"),
        (col("_cur_ok") && col("_base_ok")).as("sketch_within_bound"))
      .orderBy("source")
  }

  def vTokenHistDrift(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Drift.tokenHistogramDrift(
        tok(spark, dir), baselineTok(spark, dir), bucketSize = 1000)
      .orderBy("source")

  def rSeveritySorted(spark: SparkSession, dir: String): DataFrame = {
    val d = Validator.dedupIssues(detailed(spark, dir))
    d.withColumn("severity_rank",
        graft.report.ReportOps.severityRank(col("severity")))
      .orderBy("severity_rank", "rule_id", "detail_generic")
  }

  private val fdpgRules = Seq("len_consistency", "token_bounds", "not_null_tokens")

  def rFdpgSplit(spark: SparkSession, dir: String): DataFrame = {
    val v = detailed(spark, dir)
    val f = graft.report.ReportOps.fdpgViolations(v, fdpgRules)
      .select(lit("fdpg").as("category"))
    val g = graft.report.ReportOps.generalViolations(v, fdpgRules)
      .select(lit("general").as("category"))
    f.unionByName(g).groupBy("category").agg(count(lit(1)).as("n"))
      .orderBy("category")
  }

  /** Only the length rule is validated: the subset is the input rule set,
    * so the plan carries no referential predicate and no uniqueness
    * shuffle.
    */
  def rLengthMismatch(spark: SparkSession, dir: String): DataFrame =
    graft.report.ReportOps.extractLengthMismatch(Validator.violations(
        tok(spark, dir),
        ruleSet.copy(rules = ruleSet.rules.filter(_.id == "len_consistency")),
        dims(spark)))
      .orderBy("doc_id", "declared", "actual")

  def rHistPivot(spark: SparkSession, dir: String): DataFrame =
    graft.report.ReportOps.pivotHistogram(
        StatsOps.lengthHistogram(tok(spark, dir)), (0L to 6L))
      .orderBy("source")

  /** Routed multi-rule-set pass (§2 rows 8/15, VERDICT r1 #4): source 'R'
    * is routed to a lenient 2-rule set, everything else gets the strict
    * default — parsed from the same JSON shape as the reference's
    * validation_mapping.json, evaluated in ONE scan with per-set gates
    * (the rule compiler, [[Validator.violations]]); uniqueness runs per
    * routed slice.
    */
  private val routingJson: String =
    """{ "ruleSets": {
      |    "strict": [
      |      {"type":"notNull","id":"not_null_tokens","column":"tokens","severity":"fatal"},
      |      {"type":"notNull","id":"not_null_source","column":"source","severity":"fatal"},
      |      {"type":"lengthConsistency","id":"len_consistency","arrayColumn":"tokens","lengthColumn":"n_tok"},
      |      {"type":"tokenBounds","id":"token_bounds","arrayColumn":"tokens","lo":0,"hi":50000,"severity":"warning"},
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

  def vRoutedMatrix(spark: SparkSession, dir: String): DataFrame = {
    val routing = graft.rules.RuleSetLoader.parse(routingJson)
    Validator.ruleMatrix(
        Validator.violations(tok(spark, dir), routing, dims(spark)))
      .orderBy("source", "rule_id")
  }

  /** Routing config at the REFERENCE's cardinality (VERDICT r2 #1): the
    * reference dispatches 827 per-LOINC profiles
    * (maps/validation_mapping.json:4-833); here `nSets` per-bucket profiles
    * (default 400), each with 3 rules and a per-set range bound, routed-to
    * by 4 source names each (1600 routing entries) — generated as JSON and
    * run through the same [[graft.rules.RuleSetLoader]] a user's config
    * takes.
    */
  def wideRoutingJson(nSets: Int): String = {
    val sets = (0 until nSets).map { b =>
      s""""p$b": [
         |  {"type":"notNull","id":"nn","column":"tokens","severity":"fatal"},
         |  {"type":"lengthConsistency","id":"lc","arrayColumn":"tokens","lengthColumn":"n_tok"},
         |  {"type":"range","id":"rng","column":"n_tok","lo":1,"hi":${10 + b % 37}}
         |]""".stripMargin
    }.mkString(",\n")
    val routes = (for {
      base <- Seq("A", "N", "R", "bogus")
      b <- 0 until nSets
    } yield s""""${base}_$b": "p$b"""").mkString(",\n")
    s"""{ "ruleSets": { $sets,
       |    "fallback": [ {"type":"notNull","id":"nn_src","column":"source","severity":"fatal"} ]
       |  },
       |  "routing": { $routes },
       |  "defaultRuleSet": "fallback" }""".stripMargin
  }

  /** Widened token view: `source` gains an okey-derived bucket suffix, so
    * the 4-source fixture becomes a 1600-source domain — the cardinality a
    * per-code dispatch actually sees. Materialized
    * ([[TokenTable.tokensWide]]) so the source gates hit a STORED column.
    */
  def tokWide(spark: SparkSession, dir: String, nSets: Int): DataFrame =
    TokenTable.tokensWide(spark, dir, nSets)

  /** Wide routed dispatch: 400 rule sets in ONE scan through the
    * PARAMETERIZED routing compiler ([[Validator.violations]] — the
    * homogeneous family collapses to 2 shared rules + 1 broadcast-
    * parameterized bounds template + 1 default rule, so per-row cost and
    * generated-code size are independent of rule-set count). Codegen health
    * of the plan (whole-stage compiled, JIT-sized methods, single scan) is
    * asserted by WideRoutingSpec, which also drives a heterogeneous
    * 400-set config through the chunk-staged row pass; this query pins the
    * result against a closed-form oracle.
    */
  def vRoutedWide(spark: SparkSession, dir: String): DataFrame = {
    val routing = graft.rules.RuleSetLoader.parse(wideRoutingJson(400))
    Validator.ruleMatrix(
        Validator.violations(tokWide(spark, dir, 400), routing, dims(spark)))
      .orderBy("source", "rule_id")
  }

  /** End-to-end assembled report (VERDICT r1 #5): category split + dedup +
    * severity rank/color in one call (the reference's inclusion predicate
    * is summary-side only — see [[graft.report.ReportOps.assemble]]).
    */
  def rReportFull(spark: SparkSession, dir: String): DataFrame = {
    val detailedV = detailed(spark, dir)
    graft.report.ReportOps.assemble(detailedV, fdpgRules)
      .orderBy("category", "severity_rank", "rule_id", "detail_generic")
  }

  /** Persisted report artifact + latest-selection (VERDICT r2 #4): two
    * snapshot-stamped artifacts are written — snapshot 1 from the baseline
    * half-table, snapshot 2 from the full table — and the LATEST is
    * reloaded; the re-read artifact must equal the directly-assembled full
    * report (the oracle recomputes it), proving write → list → pick-latest
    * → reload round-trips the report exactly.
    */
  def rReportPersisted(spark: SparkSession, dir: String): DataFrame = {
    val base = Fs.cacheDir(dir, "reports")
    val older = baselineTok(spark, dir)
    val olderDetailed = Validator.violations(older, ruleSet, dims(spark))
    graft.report.ReportOps.persistReport(
      graft.report.ReportOps.assemble(olderDetailed, fdpgRules),
      base, snapshotId = 1L)
    val detailedV = detailed(spark, dir)
    graft.report.ReportOps.persistReport(
      graft.report.ReportOps.assemble(detailedV, fdpgRules),
      base, snapshotId = 2L)
    graft.report.ReportOps.latestReport(spark, base)
      .orderBy("category", "severity_rank", "rule_id", "detail_generic")
  }

  /** Report from a RESUMED run with zero extra rule passes (VERDICT r3 #1):
    * leg 1 validates only partitions A and N (a partial first run), leg 2
    * resumes over the full table and validates ONLY the remaining
    * partitions; both legs terminate their single rule pass in a
    * [[graft.engine.ViolationStore]] write, and the report is assembled
    * from the persisted artifacts + the manifest-reconstructed summary —
    * the token table is never re-validated (CheckpointSpec pins the
    * assembled plan token-scan-free). Must equal the directly-assembled
    * fresh report, which the oracle recomputes.
    *
    * The rule set drops the uniqueness rule: dataset-global rules are
    * per-validated-slice by definition under resume (a duplicate spanning
    * two legs' slices is visible to neither), so only row-local rules make
    * fresh == resumed an exact identity worth pinning.
    */
  def rReportResumed(spark: SparkSession, dir: String): DataFrame = {
    val base = Fs.cacheDir(dir, "resumed")
    Fs.delete(spark, base) // exercise the resume every run
    val manifest = s"$base/manifest"
    val vstore = s"$base/violations"
    val rs = RuleSet("row_ref",
      ruleSet.rules.filterNot(_.isInstanceOf[graft.rules.UniqueRule]))
    val violFn = (df: DataFrame) => Validator.violations(df, rs, dims(spark))
    val t = tok(spark, dir)
    graft.engine.ValidationRunner.runResumableWith(spark,
      t.where(col("source").isin("A", "N")), violFn, manifest, 1L,
      Some(vstore))
    val leg2 = graft.engine.ValidationRunner.runResumableWith(spark,
      t, violFn, manifest, 1L, Some(vstore))
    graft.report.ReportOps.assemble(
        graft.engine.ViolationStore.latest(spark, vstore, 1L, leg2.manifest),
        fdpgRules)
      .orderBy("category", "severity_rank", "rule_id", "detail_generic")
  }

  /** Stateful streaming uniqueness under the oracle (VERDICT r2 #7): the
    * final per-key emission of the (count, minSource) state must equal the
    * batch duplicate set exactly, whatever the micro-batch file split.
    */
  def sStreamUnique(spark: SparkSession, dir: String): DataFrame = {
    val path = TokenTable.materializedPath(spark, dir)
    graft.streaming.StreamingValidation.runUniqueAvailableNow(
        spark, path, maxFilesPerTrigger = 32)
      .orderBy("doc_id")
  }

  def vResumePending(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val completed = Seq("A", "N").toDF("completed")
    tok(spark, dir).select("source").distinct()
      .join(broadcast(completed), col("source") === col("completed"), "left_anti")
      .select("source").orderBy("source")
  }

  // ---- lifecycle / containment / streaming / ingestion ---------------------

  /** Adaptive fallback (#39): 'ZZ' never exists → warning + full rescan. */
  def vFallback(spark: SparkSession, dir: String): DataFrame =
    Validator.summaryWithFallback(tok(spark, dir), "ZZ", ruleSet, dims(spark))
      .orderBy("source")

  /** Error containment (#40): two broken rules become engine_error rows. */
  def vContained(spark: SparkSession, dir: String): DataFrame = {
    val broken = RuleSet("with_bad", ruleSet.rules ++ Seq(
      graft.rules.NotNullRule("bad_col_rule", "no_such_column"),
      graft.rules.ReferentialRule("bad_ref_rule", "source", "no_such_dim")))
    Validator.violationsContained(tok(spark, dir), broken, dims(spark))
      .groupBy("rule_id").agg(count(lit(1)).as("n")).orderBy("rule_id")
  }

  /** Pure-SQL surface: the same per-source stats through `spark.sql` over a
    * registered view (the API a SQL-first user of the engine would hit).
    */
  def vSqlStats(spark: SparkSession, dir: String): DataFrame = {
    tok(spark, dir).createOrReplaceTempView("graft_tokens")
    spark.sql(
      """SELECT source, count(*) AS n_rows,
        |       min(n_tok) AS min_n_tok, max(n_tok) AS max_n_tok,
        |       percentile(n_tok, 0.5) AS med_n_tok
        |FROM graft_tokens GROUP BY source ORDER BY source""".stripMargin)
  }

  /** Top-k + limit (#4/#31): most-duplicated doc_ids. */
  def vTopDups(spark: SparkSession, dir: String): DataFrame =
    Validator.topDuplicatedKeys(tok(spark, dir), "doc_id", 10)

  /** Window-function uniqueness alternative (§2.6): duplicate row ranks. */
  def vDupRanked(spark: SparkSession, dir: String): DataFrame =
    Validator.duplicatesRanked(tok(spark, dir), "doc_id")
      .groupBy("doc_id").agg(count(lit(1)).as("n_extra"),
        max(col("rn")).as("max_rn"))
      .orderBy("doc_id")

  /** Report-inclusion predicate (#21). */
  def rReportSources(spark: SparkSession, dir: String): DataFrame =
    graft.report.ReportOps.includeSources(
      Validator.summary(tok(spark, dir), detailed(spark, dir)))
      .orderBy("source")

  /** Diagnostics grouping (#22). */
  def rDetailGroups(spark: SparkSession, dir: String): DataFrame =
    graft.report.ReportOps.groupByDetailPrefix(detailed(spark, dir))
      .orderBy("detail_key")

  /** Detail filter + rewrite (#26/#27). */
  def rDetailFilter(spark: SparkSession, dir: String): DataFrame =
    graft.report.ReportOps.rewriteDetail(
      graft.report.ReportOps.filterByDetail(detailed(spark, dir), "not in"))
      .select("doc_id", "detail").orderBy("doc_id", "detail")

  /** JSON ingestion, syntactic validity (#5/#13): corrupt → parse rows. */
  def jParseViolations(spark: SparkSession, dir: String): DataFrame = {
    val corpus = graft.sources.JsonIngest.materializedJson(spark, dir)
    graft.sources.JsonIngest.parseViolations(
      graft.sources.JsonIngest.read(spark, corpus))
      .select("doc_id", "rule_id").orderBy("doc_id")
  }

  /** JSON ingestion: rows that parsed cleanly, summarized per source. */
  def jValidSummary(spark: SparkSession, dir: String): DataFrame = {
    val corpus = graft.sources.JsonIngest.materializedJson(spark, dir)
    graft.sources.JsonIngest.validRows(
      graft.sources.JsonIngest.read(spark, corpus))
      .groupBy("source").agg(count(lit(1)).as("n_rows"),
        sum(col("n_tok")).as("sum_n_tok"))
      .orderBy("source")
  }

  /** Referential check against a BIG dimension (VERDICT r1 #8): every
    * sequence must reference a non-pending order — allowed values = the
    * o_orderkey set with status ≠ 'P'. Compiled by
    * [[Validator.violations]]: up to 10,000 values (9,912 at sf0.01) it is
    * a membership predicate in the one row pass; above that (99,811 at
    * sf0.1) a `merge`-hinted sort-merge anti-join, never a broadcast
    * (asserted in ValidatorSpec and PlanAudit).
    */
  def vRefBigDim(spark: SparkSession, dir: String): DataFrame = {
    val allowed = spark.read.parquet(s"$dir/orders.parquet")
      .where(col("o_orderstatus") =!= "P")
      .select(col("o_orderkey").as("allowed_okey"))
    val rule = graft.rules.ReferentialRule(
      "ref_order_ok", "okey", "non_pending_orders")
    Validator.violations(tok(spark, dir), RuleSet("ref_big_dim", Seq(rule)),
        Map(rule.dimension -> allowed))
      .groupBy("source").agg(count(lit(1)).as("violations"))
      .orderBy("source")
  }

  /** Two-hop lineage referential: a sequence is flagged when the order it
    * references belongs to a customer with a negative account balance —
    * fact → big dimension (sort-merge on okey) → small filtered dimension
    * (broadcast semi on custkey): the mixed join topology a real lineage
    * rule compiles to.
    */
  def vRefChain(spark: SparkSession, dir: String): DataFrame = {
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val badCust = spark.read.parquet(s"$dir/customer.parquet")
      .where(col("c_acctbal") < 0).select(col("c_custkey"))
    tok(spark, dir)
      .join(orders.hint("merge"), col("okey") === col("o_orderkey"))
      .join(broadcast(badCust), col("o_custkey") === col("c_custkey"),
        "left_semi")
      .groupBy("source").agg(count(lit(1)).as("violations"))
      .orderBy("source")
  }

  /** Referential rule against a USER-LOADED dimension (VERDICT r2 #2): the
    * value set comes from config JSON through
    * [[graft.sources.DimensionLoader]], not a hardcoded table — note the
    * loaded set ('A','N' only) differs from the built-in allowed_sources,
    * so the result proves the loaded dimension drives the rule.
    */
  def vRefLoadedDim(spark: SparkSession, dir: String): DataFrame = {
    val loaded = graft.sources.DimensionLoader.parse(spark,
      """{"valueSets": {"allowed_sources_strict": ["A", "N"]}}""")
    val rule = graft.rules.ReferentialRule(
      "ref_source_strict", "source", "allowed_sources_strict")
    Validator.violations(tok(spark, dir), RuleSet("ref_loaded_dim", Seq(rule)),
        loaded)
      .groupBy("source").agg(count(lit(1)).as("violations"))
      .orderBy("source")
  }

  /** Event-time windowed streaming drift over the events table (VERDICT r1
    * #6): per-(1-day window, event_type) KLL quantiles vs a first-half
    * baseline, emitted in append mode as the watermark closes windows; the
    * oracle recomputes each closed window's exact quantiles and the
    * watermark cutoff.
    */
  def sWindowDrift(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.EventSource.materializedPath(spark, dir)
    val baseline = spark.read.parquet(path)
      .where(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
      .select(col("event_type").as("source"), col("value"))
    val baseQs = graft.engine.Drift.baselineQuantiles(
      baseline, "value", k = 2000, ps = Seq(0.5, 0.95))
    graft.streaming.StreamingDrift.runWindowedDriftAvailableNow(
        spark, path, graft.sources.EventSource.schema,
        "ts", "event_type", "value", "1 day", "1 hour", baseQs,
        k = 200, ps = Seq(0.5, 0.95), threshold = 17.0)
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("source"), col("max_delta"), col("drifted"))
      .orderBy("window_start", "source")
  }

  /** Backward AS-OF join (new in r5): every click aligned with the user's
    * latest view at-or-before it — the feature-lookup / attribution
    * primitive. Engine: union + one running window (one shuffle, no range
    * explosion); oracle: DuckDB's NATIVE `ASOF LEFT JOIN`, so two
    * independent formulations must agree row for row.
    */
  def eAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts"),
        col("value").as("view_value"), col("event_id").as("view_event"))
    graft.operators.JoinOps.asofJoinBackward(
        clicks, views, "user_id", "ts",
        pickCols = Seq("view_value", "view_event"),
        tieBreak = Some("view_event"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("view_value"), col("view_event"))
      .orderBy("event_id")
  }

  /** Gap-based sessionization (new in r5): 30-minute-gap sessions per user
    * over the events table — per-session event counts and exact-microsecond
    * spans; the oracle runs the identical gaps-and-islands windows.
    */
  def eSessionize(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SessionOps.sessionSummary(
        spark.read.parquet(s"$dir/events.parquet"),
        "user_id", "ts", gapUs = 30L * 60 * 1000000)
      .orderBy("user_id", "session")

  /** Rollup aggregate (new in r5): violation counts by (source, rule_id)
    * WITH subtotal and grand-total rows — the grouping-sets surface over
    * the rule matrix (null grouping columns mark the rollup levels, same
    * convention in both engines).
    */
  def vRollupMatrix(spark: SparkSession, dir: String): DataFrame =
    detailed(spark, dir)
      .rollup("source", "rule_id")
      .agg(count(lit(1)).as("violations"))
      .orderBy(col("source").asc_nulls_first, col("rule_id").asc_nulls_first)

  /** Intersect (new in r5): rule ids firing in BOTH the current and the
    * even-okey baseline snapshot — set-op completeness beside the except
    * in `r_fdpg_split` (the oracle runs a literal SQL INTERSECT).
    *
    * NOT `Dataset.intersect`: Spark plans INTERSECT as a left-semi join,
    * and `PushLeftSemiThroughUnion` re-embeds the right subtree into
    * every branch of the violations union — even with both sides
    * distinct-aggregated first, the plan read 10 scans where 6 are
    * structural (the ScanSweep class of bug). The intersected domain is
    * the RULE VOCABULARY (driver-sized by definition), so the baseline
    * side collects once and scopes the current side as an `isin`
    * predicate — the same shape as `includeSources`, each violations
    * subtree planned exactly once.
    */
  /** One-pass since r6: rule-id presence per snapshot falls out of the
    * subset diff's statuses (in cur ⇔ new/persisting, in base ⇔
    * resolved/persisting) — was two full rule passes plus a driver-side
    * collect + isin.
    */
  def rRuleOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.report.ReportOps.diffReportSubset(
        tok(spark, dir), ruleSet, dims(spark), col("okey") % 2 === 0)
      .groupBy("rule_id")
      .agg(max(col("status").isin("new", "persisting")).as("_c"),
        max(col("status").isin("resolved", "persisting")).as("_b"))
      .where(col("_c") && col("_b"))
      .select("rule_id").orderBy("rule_id")

  /** Streaming session windows (new in r5): native `session_window`
    * aggregation per user over the events stream, append mode — only
    * sessions the final watermark (`max(ts) − 1h`) has closed are
    * emitted, exactly what an unbounded deployment would have shipped.
    * The oracle recomputes sessions in batch (gaps-and-islands with the
    * streaming operator's EXCLUSIVE gap boundary) and applies the same
    * cutoff.
    */
  def sSessionize(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.EventSource.materializedPath(spark, dir)
    graft.streaming.StreamingSessions.runSessionsAvailableNow(spark, path,
        graft.sources.EventSource.schema, "ts", "user_id",
        gap = "30 minutes", watermarkDur = "1 hour")
      .select(
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("user_id"), col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** Structured Streaming validation over the token table as a bounded
    * stream (Trigger.AvailableNow) — same violation counts as batch.
    */
  def sStreamRuleMatrix(spark: SparkSession, dir: String): DataFrame = {
    val path = TokenTable.materializedPath(spark, dir)
    // 128 files/trigger: the cache is 32 files × 4 source dirs, so this is
    // 1-2 micro-batches — same final aggregate, ~3× less per-batch harness
    // overhead than the previous 32 (measured 23.7s → single-digit at sf0.1)
    graft.streaming.StreamingValidation.runRuleMatrixAvailableNow(
      spark, path, ruleSet, dims(spark), maxFilesPerTrigger = 128)
      .orderBy("source", "rule_id")
  }

  /** Stateful streaming exact dedup over the documents table as a bounded
    * multi-file stream: `dropDuplicates` state drops repeat fingerprints
    * across micro-batches; per-source survivor counts == batch distinct
    * fingerprint counts independent of file-to-batch assignment.
    */
  def sStreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.DocSource.materializedDocs(spark, dir)
    graft.streaming.StreamingDedup.runDedupAvailableNow(spark, path)
      .orderBy("source")
  }

  /** Conditional (invariant-style) rules: premise-gated row rules compiled
    * into the same single-scan codegen pass as unconditional ones.
    */
  def vConditional(spark: SparkSession, dir: String): DataFrame = {
    import graft.rules.{ConditionalRule, RangeRule, TokenBoundsRule}
    val rules: Seq[graft.rules.Rule] = Seq(
      ConditionalRule("cond_a_ntok_cap", "source", "A",
        RangeRule("inner_range", "n_tok", 1, 25)),
      ConditionalRule("cond_n_token_bounds", "source", "N",
        TokenBoundsRule("inner_bounds", "tokens", 0, TokenTable.Vocab),
        severity = "warning"))
    Validator.violations(tok(spark, dir), RuleSet("conditional", rules),
        Map.empty)
      .groupBy("rule_id", "severity").agg(count(lit(1)).as("cnt"))
      .orderBy("rule_id")
  }

  /** Schema conformance pre-gate: expected-vs-actual column/type issues
    * (pure metadata — no data scanned; the fail-fast check before a rule
    * pass is submitted). The spec here deliberately mis-declares `n_chars`,
    * requires an absent `license`, and omits `lang`.
    */
  def vSchemaCheck(spark: SparkSession, dir: String): DataFrame =
    graft.engine.SchemaCheck.conformance(spark, docs(spark, dir), Seq(
      "doc_id" -> "bigint", "text" -> "string", "source" -> "string",
      "n_chars" -> "int", "license" -> "string"))
      .orderBy("column", "issue")

  /** Snapshot row diff (incremental validation planning): per-(source,
    * change) added/removed counts between the current table (bogus rows
    * dropped) and the even-okey baseline snapshot, EXCEPT ALL semantics.
    */
  def vSnapshotDataDiff(spark: SparkSession, dir: String): DataFrame = {
    val cur = tok(spark, dir).where(col("source") =!= "bogus")
    val prev = TokenTable.tokensBaseline(spark, dir)
    graft.engine.SnapshotDiff.diffBySource(cur, prev)
      .orderBy("source", "change")
  }

  /** Embedding-space drift: cosine between per-label centroids of the two
    * vec_id-parity cohorts (scalar stats can't see directional shift).
    */
  def eCentroidShift(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SimilarityOps.centroidShift(
        embs(spark, dir), "label", col("vec_id") % 2)
      .withColumnRenamed("grp", "label")
      .orderBy("label")

  /** First-3 exemplar violations per rule — deterministic triage view. */
  def rRuleExamples(spark: SparkSession, dir: String): DataFrame =
    graft.report.ReportOps.ruleExemplars(
        Validator.violations(tok(spark, dir), ruleSet, dims(spark)), 3)
      .withColumnRenamed("rank", "rnk")
      .orderBy("rule_id", "rnk")

  /** Hourly volume anomalies per event type: |z| ≥ 2 buckets vs the
    * type's own hourly mean/stddev — the rate monitor beside the rules.
    */
  def eHourlyAnomalies(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.hourlyAnomalies(
        spark.read.parquet(s"$dir/events.parquet"))
      .orderBy("event_type", "hour")

  /** Functional-dependency consistency: duplicate doc_ids must agree on
    * n_tok — the cross-row fixed-value check (dataset-level).
    */
  def vFdCheck(spark: SparkSession, dir: String): DataFrame =
    Validator.fdViolations(tok(spark, dir), "fd_doc_ntok", "doc_id", "n_tok")
      .orderBy("doc_id")

  /** Composite-key uniqueness (new in r6, VERDICT r5 #6): one UniqueRule
    * over the column SET (source, okey) — the reference's own dedup
    * identity is composite (severity+code+diagnostics+location,
    * IssueSet.py:9-26). Same one-shuffle aggregate as the single-column
    * rule, keyed by the tuple; the violation's doc_id slot renders the key
    * `|`-joined.
    */
  def vUniqueComposite(spark: SparkSession, dir: String): DataFrame =
    Validator.uniqueViolations(tok(spark, dir),
      graft.rules.UniqueRule("unique_src_okey", "source",
        severity = "warning", moreColumns = Seq("okey")))
      .orderBy("doc_id")

  /** Incremental re-validation: diff the new snapshot against the previous
    * one, validate ONLY the partitions whose content changed (here: source
    * A gains the odd-okey rows, every other source is byte-identical).
    * The summary covers exactly the changed slice — the unchanged sources
    * resume from their manifest entries at 100 TB instead of re-scanning.
    */
  def vIncrementalReval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val full = tok(spark, dir)
    val prev = TokenTable.tokensBaseline(spark, dir)
    val cur = prev.where(col("source") =!= "A")
      .unionByName(full.where(col("source") === "A"))
    val changed = graft.engine.SnapshotDiff.changedSources(cur, prev)
      .as[String].collect().toSeq.sorted // |sources|-bounded
    val slice = cur.where(graft.engine.SnapshotDiff.sliceFilter(changed))
    Validator.summary(slice, Validator.violations(slice, ruleSet, dims(spark)))
      .orderBy("source")
  }

  /** Constraint suggestion (new in r5): profile the token table and emit
    * candidate rules — observed numeric ranges, null-freedom, and the
    * source dictionary — the Deequ-style bootstrap for onboarding a source
    * without a hand-written rule set ([[graft.engine.Profiler]]; the
    * closure property — zero violations when the suggestions are compiled
    * and re-run on the profiled table — is pinned by ProfilerSpec).
    */
  def vProfileSuggest(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Profiler.suggest(tok(spark, dir),
      numericCols = Seq("n_tok", "okey"), categoricalCols = Seq("source"))
      // the engine-side frame carries the dictionary as array<string>
      // (comma-safe compile round-trip, ADVICE r5); the registry surface
      // renders it for the string-typed DuckDB oracle — the fixture's
      // source values are comma-free, so the rendering is lossless here
      .withColumn("values", array_join(col("values"), ","))
      .orderBy("rule_id")

  // ---- training-data pipeline queries (documents / embeddings) -------------

  import graft.operators.{DedupOps, MultimodalOps, SimilarityOps, TextOps, VectorIndex}

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  def dTokcount(spark: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(docs(spark, dir)).orderBy("doc_id")

  def dQuality(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityScores(docs(spark, dir)).orderBy("doc_id")

  def dLangidAccuracy(spark: SparkSession, dir: String): DataFrame =
    TextOps.langId(docs(spark, dir))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  /** N-gram-profile language ID (the model-shaped replacement for the
    * marker heuristic — explode trigrams → broadcast profile join → argmax;
    * OperatorsSpec proves discrimination on genuinely multilingual text;
    * this fixture's text is language-less synthetic vocabulary, so the
    * query pins the scoring pipeline, not classifier accuracy).
    */
  def dLangidNgram(spark: SparkSession, dir: String): DataFrame =
    TextOps.langIdNgram(docs(spark, dir))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")

  /** BPE-ish regex pre-tokenizer counts (letter/digit/punctuation runs). */
  def dBpeishTokcount(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpeishTokenCounts(docs(spark, dir)).orderBy("doc_id")

  /** Winnowing (rolling k-gram window-min) fingerprint near-dups with the
    * oracle-replicable md5 gram hash: pairs sharing ≥ 5 selected hashes.
    * Candidate generation is an inverted index keyed by fingerprint —
    * never all-pairs — with the hot-bucket guard on ubiquitous substrings.
    */
  def dWinnowDups(spark: SparkSession, dir: String): DataFrame =
    // word 3-grams: single common words collide corpus-wide on this
    // shared-vocabulary fixture (char-8-gram winnowing emitted 79k of a
    // possible 125k pairs; 3-word grams emit 24 genuine shared-phrase
    // pairs) and cost ~6× fewer interpreted hash calls than char grams
    DedupOps.winnowDuplicates(docs(spark, dir), kWords = 3, w = 4,
        minShared = 5, gramHash = DedupOps.md5WordHash60)
      .orderBy("doc_a", "doc_b")

  /** Decontamination: corpus docs sharing ≥3 distinct 3-shingles with the
    * bounded eval slice (doc_id < 25). Broadcast eval index; corpus side
    * is one scan. Oracle recomputes every overlap exactly.
    */
  def dDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    DedupOps.contaminationCheck(
        d.where(col("doc_id") >= 25), d.where(col("doc_id") < 25),
        w = 3, minShared = 3)
      .orderBy("doc_id")
  }

  def dFingerprintDups(spark: SparkSession, dir: String): DataFrame =
    DedupOps.exactDuplicates(docs(spark, dir)).orderBy("doc_id")

  def dMinhashDups(spark: SparkSession, dir: String): DataFrame =
    DedupOps.minHashDuplicates(docs(spark, dir), threshold = 0.5)
      .orderBy("doc_a", "doc_b")

  /** SimHash near-dups at the TIGHT radius (Hamming ≤ 2 of 60 bits) with
    * the oracle-replicable md5 word hash — fully oracle-checked, including
    * the hot-bucket cap (replicated in the SQL). Production deployments
    * swap in [[DedupOps.xxWordHash]] (the default `wordHash`) — the
    * identical code path with a codegen'd hash, exercised under the
    * oracle-checked `d_simhash_recall` (recall of provable duplicates
    * pinned at exactly 1.0 on the xxhash64 variant).
    */
  def dSimhashDups(spark: SparkSession, dir: String): DataFrame =
    DedupOps.simHashDuplicates(docs(spark, dir), maxHamming = 2,
        wordHash = DedupOps.md5WordHash60, bits = 60)
      .orderBy("doc_a", "doc_b")

  /** Exact 3-shingle Jaccard on consecutive-id pairs — the deterministic
    * correctness anchor for the MinHash/LSH near-dup path (same exact-vs-
    * sketch pairing as drift): every pair's Jaccard is recomputed by the
    * oracle, while d_minhash_dups exercises the scale path (rows-only).
    */
  def dNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val pairs = d.select(col("doc_id").as("doc_a"),
      (col("doc_id") + 1).as("doc_b"))
    DedupOps.ngramJaccardPairs(d, pairs, w = 3)
      .orderBy("doc_a")
  }

  /** Embedding table augmented with deterministic near-copies: vectors with
    * vec_id % 5 == 0 get two perturbed clones (ids offset by c·100000,
    * component j shifted by a closed-form ±0.04 term), giving the corpus
    * true near-duplicates at cos ≈ 0.995 — the regime banded LSH is built
    * for — while staying exactly replicable by the DuckDB oracle.
    */
  private def embsAug(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    // two-stage select: naming the id expression "vec_id" in the SAME select
    // would lateral-alias-capture the reference inside the transform lambda
    // (Spark 4 resolves same-select aliases before input columns)
    val copies = e.where(col("vec_id") % 5 === 0)
      .crossJoin(spark.range(1, 3).toDF("c"))
      .select(col("vec_id").as("base_id"), col("c"), col("embedding"))
      .select((col("c") * 100000 + col("base_id")).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          x + ((col("base_id") * 31 + col("c") * 17 + j * 13) % 21 - 10)
            .cast("double") * lit(0.002)).as("embedding"))
    e.unionByName(copies)
  }

  /** Recall anchor for MinHash LSH: exact all-pairs Jaccard ≥ 0.5 on a
    * bounded doc slice (oracle-recomputed count) + a pinned ≥0.9 recall
    * bound on the LSH candidate pairs (which are themselves exact-verified,
    * so found ⊆ exact by construction and recall = |found| / |exact|).
    */
  def dMinhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).where(col("doc_id") < 500)
    // exact side via the inverted index (guide §3.3): identical jaccard
    // arithmetic to the old all-pairs array_intersect/array_union form,
    // ONE corpus pass instead of a 125k-pair nested loop (8.7 s → ~2 s)
    val exact = DedupOps.exactJaccardPairs(d, 3)
      .where(col("jaccard") >= 0.5)
    val found = DedupOps.minHashDuplicates(d, threshold = 0.5)
    exact.agg(count(lit(1)).as("n_exact_pairs"))
      .crossJoin(found.agg(count(lit(1)).as("nf")))
      .select(col("n_exact_pairs"),
        (col("nf") >= col("n_exact_pairs") * 0.9).as("recall_ok"))
  }

  /** Fully oracle-checked SimHash: the md5-derived 60-bit word hash is
    * replicable in DuckDB, and chunk-bucketing is EXACT by pigeonhole for
    * Hamming ≤ 3, so the oracle recomputes the complete pair set — the
    * rigorous anchor for the (same-shaped, xxhash64) production variant
    * d_simhash_dups.
    */
  def dSimhashMd5Dups(spark: SparkSession, dir: String): DataFrame =
    DedupOps.simHashDuplicates(docs(spark, dir), maxHamming = 3,
        wordHash = DedupOps.md5WordHash60, bits = 60)
      .orderBy("doc_a", "doc_b")

  /** Recall anchor for SimHash: pairs with IDENTICAL word sets (equal
    * canonical fingerprints — the oracle-recomputable ground truth) have
    * equal simhashes by construction, so the banded Hamming search must
    * recall every one of them: recall is pinned at exactly 1.0.
    */
  def dSimhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val fp = graft.operators.TextOps.fingerprints(docs(spark, dir))
    val a = fp.select(col("fp"), col("doc_id").as("doc_a"))
    val b = fp.select(col("fp"), col("doc_id").as("doc_b"))
    val exact = a.join(b, Seq("fp")).where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val found = DedupOps.simHashDuplicates(docs(spark, dir), maxHamming = 3)
      .select("doc_a", "doc_b")
    val hit = exact.join(found, Seq("doc_a", "doc_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact_pairs"))
      .crossJoin(hit.agg(count(lit(1)).as("nh")))
      .select(col("n_exact_pairs"),
        (col("nh") === col("n_exact_pairs")).as("recall_ok"))
  }

  private def queryVec(spark: SparkSession, dir: String): Seq[Double] =
    embs(spark, dir).where(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .first().getSeq[Double](0).toSeq

  def eKnnBrute(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.bruteForceTopK(embs(spark, dir), queryVec(spark, dir), 10)
      .select("vec_id").orderBy("vec_id")

  /** ANN over the MATERIALIZED IVF index: partition-pruned probe of the
    * nProbe nearest centroid lists (VERDICT r1 #1). The oracle replicates
    * the entire index in closed form (deterministic centroids = lowest
    * vec_ids, argmax-cosine assignment, top-nProbe probe).
    */
  def eAnnIvfIdx(spark: SparkSession, dir: String): DataFrame = {
    val (idx, cent) =
      VectorIndex.ivf(spark, embs(spark, dir), Fs.dirTag(dir), 8)
    VectorIndex.ivfTopK(spark, idx, cent, queryVec(spark, dir), 10, nProbe = 2)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy("vec_id")
  }

  /** Quantized IVF probe (new in r5): same exact-precision build-time
    * centroids/assignment, int8 payload + codebook on disk (4× smaller
    * index), dequantize-on-probe ([[VectorIndex.ivfQuantized]]). The
    * oracle replays the full quantize→dequantize→probe arithmetic.
    */
  def eAnnIvfQ(spark: SparkSession, dir: String): DataFrame = {
    val (idx, cent, cb) =
      VectorIndex.ivfQuantized(spark, embs(spark, dir), Fs.dirTag(dir), 8)
    VectorIndex.ivfQuantizedTopK(spark, idx, cent, cb,
        queryVec(spark, dir), 10, nProbe = 2)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy("vec_id")
  }

  /** IVF with one LLOYD REFINEMENT iteration (VERDICT r2 #8): the stored
    * centroids are the per-component means of the seed assignment — better
    * balanced lists, same probe shapes. The oracle replicates the full
    * iteration in closed form (seed centroids → argmax assignment →
    * per-position means → re-assignment → top-2 probe → exact top-10).
    */
  def eAnnIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val (idx, cent) = VectorIndex.ivf(spark, embs(spark, dir),
      Fs.dirTag(dir), 8, kmeansIters = 1)
    VectorIndex.ivfTopK(spark, idx, cent, queryVec(spark, dir), 10, nProbe = 2)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy("vec_id")
  }

  /** ANN over the MATERIALIZED banded-LSH index: equality probes of the
    * query's (band_id, band_key) buckets — `bands` partitions read, nothing
    * else. k=3 targets the injected near-copies of vec 0 (cos ≥ 0.995),
    * where the banded probe provably recalls the true top-k (miss
    * probability ≤ 6·10⁻⁶ per copy); oracle = exact brute-force top-3.
    */
  def eAnnLshIdx(spark: SparkSession, dir: String): DataFrame = {
    val idx = VectorIndex.lsh(spark, embsAug(spark, dir),
      s"${Fs.dirTag(dir)}_aug", bands = 8, rowsPerBand = 8)
    VectorIndex.lshTopK(spark, idx, queryVec(spark, dir), 3,
        bands = 8, rowsPerBand = 8)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy("vec_id")
  }

  /** Banded-LSH near-duplicates over the augmented table at cos ≥ 0.99 —
    * candidate pairs from shared band buckets, exact-cosine verified; the
    * oracle recomputes the full exact pair set (LSH recall at this regime
    * makes the sets equal; e_near_dup_recall pins the bound explicitly).
    */
  def eNearDup(spark: SparkSession, dir: String): DataFrame =
    DedupOps.embeddingNearDuplicates(embsAug(spark, dir),
        bands = 8, rowsPerBand = 8, threshold = 0.99)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
      .orderBy("vec_a", "vec_b")

  /** Recall anchor for the embedding near-dup path: exact all-pairs count
    * (oracle-recomputed) + a pinned ≥0.95 recall bound on what LSH found.
    * Bounded to a deterministic vector slice — the exact all-pairs
    * ground-truth is O(n²) BY DESIGN and must never scale with the corpus
    * (at sf0.1 the unbounded version cost 148 s; the slice is constant).
    */
  def eNearDupRecall(spark: SparkSession, dir: String): DataFrame = {
    val aug = embsAug(spark, dir).where(col("vec_id") % 100000 < 500)
    val a = aug.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = aug.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val exact = a.join(b, col("vec_a") < col("vec_b"))
      .where(SimilarityOps.cosine(col("emb_a"), col("emb_b")) >= 0.99)
    val found = DedupOps.embeddingNearDuplicates(aug,
      bands = 8, rowsPerBand = 8, threshold = 0.99)
    exact.agg(count(lit(1)).as("n_exact_pairs"))
      .crossJoin(found.agg(count(lit(1)).as("nf")))
      .select(col("n_exact_pairs"),
        (col("nf") >= col("n_exact_pairs") * 0.95).as("recall_ok"))
  }

  /** Greedy sequence packing (new in r4): per-source contiguous layout of
    * documents into 4096-token training packs — pack-level doc counts and
    * token mass, windows replicated exactly by the oracle.
    */
  def vSeqPacking(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PackOps.packSummary(tok(spark, dir), budget = 4096)
      .orderBy("source", "pack_id")

  /** Two-level skew-safe packing (VERDICT r4 #5): the same greedy layout
    * under the (bucket, doc) total order, with the running sum windowed
    * per (source, md5-bucket) — 8-way parallel inside every source. The
    * oracle replicates it as a FLAT window over that order (the two-level
    * prefix-sum mechanics are an implementation detail; the contract is
    * the order).
    */
  def vSeqPacking2(spark: SparkSession, dir: String): DataFrame =
    graft.operators.PackOps.packSummaryBucketed(tok(spark, dir),
        budget = 4096, nBuckets = 8)
      .orderBy("source", "pack_id")

  /** Repetition signals (new in r4): duplicate word / 2-gram fractions —
    * the Gopher-family boilerplate-and-loop drop signal; exact arithmetic,
    * oracle-recomputed gram for gram.
    */
  def dRepetition(spark: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(docs(spark, dir)).orderBy("doc_id")

  /** Composed quality filter (new in r4): keep/drop verdict + first
    * failing reason from word-count, mean-word-length, and symbol-share
    * gates — the applied form of the quality-signal family.
    */
  def dQualityFilter(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityFilter(docs(spark, dir)).orderBy("doc_id")

  /** Duplicate-CLUSTER resolution over the MinHash near-dup pairs
    * (new in r4): near-dup similarity is not transitive, so the pair set
    * must be closed into connected components before "keep one doc per
    * cluster" is well-defined. cluster_id = min doc_id of the component
    * (canonical survivor); keep marks it. The oracle recomputes the exact
    * Jaccard pairs and closes them with a recursive reachability CTE.
    */
  def dDupClusters(spark: SparkSession, dir: String): DataFrame =
    DedupOps.connectedComponents(
        DedupOps.minHashDuplicates(docs(spark, dir), threshold = 0.5))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("keep"))
      .orderBy("doc_id")

  /** Deterministic train/valid/test assignment (new in r4): md5-bucket of
    * doc_id — stable across runs/layouts/engines, never rand() (which
    * breaks task-retry determinism); the oracle recomputes every bucket.
    */
  def dSplitAssign(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SampleOps.assignSplits(docs(spark, dir))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy("doc_id")

  /** Stratified deterministic sampling (new in r5): per-source keep
    * percentages (the domain-mixing knob) via the md5-bucket predicate —
    * verified by per-stratum kept counts + boundary doc ids; the oracle
    * replays the identical hash threshold per stratum.
    */
  def dStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val t = tok(spark, dir).withColumn("sid",
      concat_ws(":", col("doc_id"), col("okey")))
    graft.operators.SampleOps.stratifiedSample(t, "sid", "source",
        Map("A" -> 50, "N" -> 10, "R" -> 80), defaultPct = 20)
      .groupBy("source").agg(count(lit(1)).as("kept"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("source")
  }

  /** Per-source TF-IDF top terms (new in r5): the domain-profiling
    * aggregate of the text family — tf over the source, idf over document
    * frequency, deterministic top-5 per source; the oracle replays the
    * identical ln() arithmetic at round 6.
    */
  def dTfidfTopk(spark: SparkSession, dir: String): DataFrame =
    TextOps.tfidfTopK(docs(spark, dir), k = 5)
      .orderBy("source", "rank")

  /** Word-distribution Shannon entropy per document (new in r5): the
    * information-density quality signal; exact integer counts, one
    * division + log2 per distinct word, round-6 oracle replay.
    */
  def dEntropy(spark: SparkSession, dir: String): DataFrame =
    TextOps.wordEntropy(docs(spark, dir)).orderBy("doc_id")

  /** Cross-source duplicate overlap matrix (new in r5): distinct exact
    * fingerprints shared per source pair — the domain-contamination view
    * a mixing strategy reads before weighting sources.
    */
  /** Rule-driven auto-repair audit (new in r5): mechanical fixes (length
    * field := actual size, scalar clamp into band) applied in rule order
    * in ONE codegen'd pass; per-rule repair counts
    * ([[graft.engine.Repair]]; closure — repaired table re-validates
    * clean — pinned by RepairSpec).
    */
  def vRepair(spark: SparkSession, dir: String): DataFrame = {
    import graft.rules.{LengthConsistencyRule, RangeRule}
    graft.engine.Repair.audit(tok(spark, dir), Seq(
        LengthConsistencyRule("len_fix", "tokens", "n_tok"),
        RangeRule("cap_fix", "n_tok", 1, 25)))
      .orderBy("rule_id")
  }

  /** The rule engine applied to a SECOND table shape (new in r5): the
    * documents table validated with a char-length consistency rule (the
    * string analogue of the token-array length check), an n_chars band,
    * and a language value-set — per-(source, rule) violation counts. The
    * engine is table-agnostic by construction; this pins it.
    */
  def vDocsValidate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.rules.{CharLengthConsistencyRule, RangeRule, ReferentialRule, RuleSet}
    val rules = RuleSet("docs", Seq(
      CharLengthConsistencyRule("chars_match", "text", "n_chars"),
      RangeRule("chars_band", "n_chars", 1, 500, severity = "warning"),
      ReferentialRule("lang_allowed", "lang", "langs")))
    val dms = Map("langs" -> Seq("de", "en", "es", "fr").toDF("lang"))
    Validator.violations(docs(spark, dir), rules, dms)
      .groupBy("source", "rule_id").agg(count(lit(1)).as("cnt"))
      .orderBy("source", "rule_id")
  }

  /** BPE merge candidates (new in r5): top-20 most frequent ADJACENT token
    * pairs over the pre-tokenized sequences — one merge round of a subword
    * vocabulary trainer, run on the engine's native payload
    * ([[graft.operators.VocabOps.mergeCandidates]]).
    */
  def vTokenBigrams(spark: SparkSession, dir: String): DataFrame =
    graft.operators.VocabOps.mergeCandidates(tok(spark, dir), 20)
      .orderBy("rank")

  /** Token-pair PMI (new in r5): top-20 adjacent pairs by pointwise mutual
    * information (count ≥ 5) — collocation strength over the token stream
    * ([[graft.operators.VocabOps.pmiTopK]]).
    */
  def vTokenPmi(spark: SparkSession, dir: String): DataFrame =
    graft.operators.VocabOps.pmiTopK(tok(spark, dir), 20, 5)
      .orderBy(col("pmi").desc, col("t1"), col("t2"))

  /** Watermark-bounded streaming dedup (new in r5): the bounded-state
    * ingest-dedup shape — `dropDuplicatesWithinWatermark` over the events
    * stream on (user_id, event_type). The registry anchor uses a delay
    * longer than the table's span (nothing evicted ⇒ survivors == batch
    * distinct pairs, independent of file-to-batch assignment); the
    * eviction/re-admission semantics are pinned by StreamingSpec.
    */
  def sEventDedupWm(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.EventSource.materializedPath(spark, dir)
    graft.streaming.StreamingDedup.runEventDedupAvailableNow(spark, path)
      .orderBy("event_type")
  }

  /** Quarantine split sink (new in r5): one rule pass + ONE corpus
    * write routing every row of an error-violating doc_id to
    * `bucket=quarantine` and the rest to `bucket=clean`
    * ([[graft.engine.Quarantine]]); counts read back from the written
    * layout, so they assert what a downstream consumer actually sees.
    */
  def vQuarantine(spark: SparkSession, dir: String): DataFrame = {
    // per-APPLICATION output dir (ADVICE r5): this sink OVERWRITES on every
    // invocation — unlike the build-once _SUCCESS-gated caches — so two
    // concurrent sessions sharing GRAFT_TOK_CACHE must not clobber each
    // other's files mid-read; the applicationId keys them apart
    val out = Fs.cacheDir(dir, "quarantine",
      spark.sparkContext.applicationId)
    graft.engine.Quarantine
      .splitWrite(spark, tok(spark, dir), ruleSet, dims(spark), out)
      .groupBy("bucket", "source").agg(count(lit(1)).as("n_rows"))
      .orderBy("bucket", "source")
  }

  /** The composed validation LIFECYCLE in one run (new in r6, VERDICT r5
    * #5): schema pre-gate → routed auto-repair → resumable routed
    * validation into the ViolationStore → quarantine split (flagging
    * against the PERSISTED violations, no second rule pass) → per-source
    * summary with repair/quarantine counts read from the split OUTPUT
    * ([[graft.engine.Pipeline]]). Same per-application sink hygiene as
    * [[vQuarantine]]. Within one session a SECOND invocation resumes from
    * the manifest (zero re-validation) and must produce the same summary.
    */
  def vPipeline(spark: SparkSession, dir: String): DataFrame = {
    val base = Fs.cacheDir(dir, "pipeline",
      spark.sparkContext.applicationId)
    val routing = graft.rules.RuleSetLoader.parse(routingJson)
    graft.engine.Pipeline.run(spark, tok(spark, dir), routing, dims(spark),
        expectedSchema = Some(TokenTable.ExpectedSchema),
        manifestPath = s"$base/manifest", snapshotId = 1L,
        quarantineDir = s"$base/quarantine")
      .summary.orderBy("source")
  }

  /** Training context-window chunking (new in r6): each validated token
    * sequence split into 32-token windows at stride 24, pinned per window
    * by (length, token-sum checksum, endpoints)
    * ([[graft.operators.ChunkOps.contextWindows]]).
    */
  def vChunkWindows(spark: SparkSession, dir: String): DataFrame =
    graft.operators.ChunkOps.contextWindows(tok(spark, dir), 32, 24)
      .orderBy("doc_id", "win_idx", "win_sum")

  /** Deequ-style expectation suite (new in r6): per-rule violation rate
    * vs a severity-derived tolerance → PASS/FAIL, zero-violation rules
    * reported explicitly ([[graft.engine.Expectations]]).
    */
  def vExpectSuite(spark: SparkSession, dir: String): DataFrame = {
    val t = tok(spark, dir)
    graft.engine.Expectations.suite(spark, detailed(spark, dir), t.count(),
        graft.engine.Expectations.defaultSuite(ruleSet))
      .orderBy("rule_id")
  }

  /** Cross-run metrics trend (new in r6): two validation runs (baseline
    * snapshot, then full table) append to the metrics table; the trend
    * reports per-rule deltas and rate regressions for the latest run
    * ([[graft.engine.MetricsStore]]).
    */
  def vRunHistory(spark: SparkSession, dir: String): DataFrame = {
    val mdir = Fs.cacheDir(dir, "metrics",
      spark.sparkContext.applicationId)
    Fs.delete(spark, mdir)
    val base = TokenTable.tokensBaseline(spark, dir)
    graft.engine.MetricsStore.append(spark, mdir, 1L, 1L, ruleSet,
      Validator.violations(base, ruleSet, dims(spark)), base.count())
    graft.engine.MetricsStore.append(spark, mdir, 2L, 2L, ruleSet,
      detailed(spark, dir), tok(spark, dir).count())
    graft.engine.MetricsStore.trend(spark, mdir)
      .where(col("run_id") === 2).orderBy("rule_id")
  }

  /** HLL cardinality-bound anchor (new in r6): exact distinct doc_id count
    * beside the verdict that Spark's HLL++ estimate landed within 5% — the
    * trust anchor for running approx-only at corpus scale
    * ([[graft.engine.StatsOps.approxDistinctCheck]]).
    */
  def vApproxUnique(spark: SparkSession, dir: String): DataFrame =
    graft.engine.StatsOps.approxDistinctCheck(tok(spark, dir), "doc_id")

  /** Per-source token-budget cap (new in r6): keep each source's docs in
    * deterministic md5 order until 100k tokens, report kept/dropped
    * ([[graft.operators.SampleOps.tokenBudgetSummary]]).
    */
  def vTokenBudget(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SampleOps.tokenBudgetSummary(tok(spark, dir), 100000L)
      .orderBy("source")

  /** Weekly retention cohorts over the events table (new in r5):
    * first-active-week cohort × week offset → distinct active users
    * ([[graft.operators.EventOps.retentionCohorts]]).
    */
  def eRetention(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.retentionCohorts(
        spark.read.parquet(s"$dir/events.parquet"))
      .orderBy("cohort_week", "week_offset")

  /** Corpus-trained unigram LM scoring (new in r5): per-document mean word
    * log-probability under the corpus's own unigram distribution — the
    * perplexity-proxy quality gate, model trained by the engine in the
    * same job ([[TextOps.unigramLogProb]]).
    */
  def dLmScore(spark: SparkSession, dir: String): DataFrame =
    TextOps.unigramLogProb(docs(spark, dir)).orderBy("doc_id")

  /** Per-source Zipf slope (new in r5): log-freq vs log-rank least-squares
    * slope over each source's word-frequency table — the naturalness
    * monitor (template/spam sources drift off the Zipfian −1).
    */
  def dZipfSlope(spark: SparkSession, dir: String): DataFrame =
    TextOps.zipfSlope(docs(spark, dir)).orderBy("source")

  /** CCNet-style LM quality buckets (new in r6): documents binned by
    * fixed unigram-LM log-prob cutoffs, per-bucket population stats
    * ([[TextOps.lmQualityBuckets]]).
    */
  def dLmBuckets(spark: SparkSession, dir: String): DataFrame =
    TextOps.lmQualityBuckets(docs(spark, dir)).orderBy("bucket")

  /** Temperature-scaled domain mixing weights (new in r6): per-source
    * token share flattened at alpha = 0.5
    * ([[graft.operators.SampleOps.mixingWeights]]).
    */
  def dMixWeights(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SampleOps.mixingWeights(docs(spark, dir), 0.5)
      .orderBy("source")

  /** PII scrub (new in r6): the corpus text is augmented with
    * deterministic synthetic PII (email + IPv4 always, phone on every
    * third doc — both engines build the identical string), then counted
    * and redacted per source ([[TextOps.piiCounts]]).
    */
  def dPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val aug = docs(spark, dir).withColumn("text", concat(
      col("text"), lit(" reach "), id, lit("@mail"),
      pmod(col("doc_id"), lit(7)).cast("string"), lit(".com via 10."),
      pmod(col("doc_id"), lit(200)).cast("string"), lit("."),
      pmod(col("n_chars"), lit(250)).cast("string"), lit("."),
      pmod(col("doc_id") * 31, lit(254)).cast("string"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" call +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit(""))))
    TextOps.piiCounts(aug)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_emails").as("n_emails"), sum("n_ips").as("n_ips"),
        sum("n_phones").as("n_phones"),
        sum("chars_delta").as("chars_redacted"))
      .orderBy("source")
  }

  /** Composed curation funnel (new in r6): per-stage survivor counts —
    * input → exact dedup → SimHash near-dup drop → decontamination vs the
    * doc_id<25 eval slice → quality filter
    * ([[graft.operators.DedupOps.corpusFunnel]], md5-60 SimHash for the
    * oracle replay).
    */
  def dCorpusFunnel(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    DedupOps.corpusFunnel(
        d.where(col("doc_id") >= 25), d.where(col("doc_id") < 25),
        maxHamming = 3, wordHash = DedupOps.md5WordHash60, bits = 60)
      .orderBy("stage")
  }

  /** Incremental ingest dedup (new in r6): the doc_id>=400 batch gated
    * against the doc_id<400 history's fingerprint index
    * ([[DedupOps.incrementalDedup]]).
    */
  def dIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    DedupOps.incrementalDedup(
        d.where(col("doc_id") >= 400),
        graft.operators.TextOps.fingerprints(d.where(col("doc_id") < 400)))
      .orderBy("doc_id")
  }

  /** Partition-skew diagnostic (new in r6): per-source share vs uniform,
    * flagged at 2× ([[graft.engine.StatsOps.skewReport]]).
    */
  def vSkewReport(spark: SparkSession, dir: String): DataFrame =
    graft.engine.StatsOps.skewReport(tok(spark, dir)).orderBy("source")

  /** Deterministic training order (new in r6): md5-bucket shard + md5
    * position within shard ([[graft.operators.SampleOps.shuffleOrder]],
    * 8 shards).
    */
  def dShuffleOrder(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SampleOps.shuffleOrder(docs(spark, dir), "doc_id", 8)
      .orderBy("shard", "pos")

  /** Text normalization report (new in r6): the corpus text is augmented
    * with deterministic formatting noise (case + whitespace runs, every
    * third doc — identical string both engines), then normalized and
    * accounted per source ([[TextOps.normalizeReport]]).
    */
  def dNormalize(spark: SparkSession, dir: String): DataFrame = {
    val messy = docs(spark, dir).withColumn("text",
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("  PAD  "), upper(substring(col("text"), 1, 10)),
          substring(col("text"), 11, 1 << 28), lit("   tail  ")))
        .otherwise(col("text")))
    TextOps.normalizeReport(messy)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("changed"), 1L).otherwise(0L)).as("n_changed"),
        sum("chars_saved").as("chars_saved"),
        sum("norm_len").as("norm_len"))
      .orderBy("source")
  }

  /** Int8 quantization error report (new in r5): per-label mean/max
    * reconstruction MSE of per-dimension affine int8 quantization — the
    * go/no-go gate before compressing a vector index's payload 4×
    * ([[SimilarityOps.quantizeInt8]]).
    */
  def eQuantizeError(spark: SparkSession, dir: String): DataFrame =
    SimilarityOps.quantizeError(embs(spark, dir)).orderBy("label")

  def dSourceOverlap(spark: SparkSession, dir: String): DataFrame =
    DedupOps.sourceOverlapMatrix(docs(spark, dir))
      .orderBy("source_a", "source_b")

  /** Ordered event funnel (new in r5): view → click → purchase per user,
    * each step strictly after the previous step's reach time and within a
    * 24-hour conversion window; per-step distinct-user conversion counts
    * (150 → 60 → 25 at sf0.01 — real drop-off, not saturation). The
    * oracle chains the same conditional mins as step-wise joins.
    */
  def eFunnel(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.funnelSummary(
        spark.read.parquet(s"$dir/events.parquet"),
        Seq("view", "click", "purchase"),
        withinSeconds = Some(24L * 3600))
      .orderBy("step_idx")

  /** Typed JSON props extraction (new in r5): parse the events `props`
    * column with an explicit declared schema and aggregate the extracted
    * field per event type — the schema-on-read path the reference's JSON
    * resource validation implies (main.py parses FHIR JSON pages), typed
    * end to end.
    */
  def ePropsExtract(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.extractProps(
        spark.read.parquet(s"$dir/events.parquet"), "k BIGINT")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("event_type")

  /** Event-type transition matrix (new in r5): successor-type counts via
    * one lead window per user — the path/Markov view; fully deterministic
    * ordering (count desc, then types).
    */
  def eTransitions(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.transitionCounts(
        spark.read.parquet(s"$dir/events.parquet"))
      .orderBy(col("n").desc, col("event_type"), col("next_type"))

  /** Per-type inter-arrival gap stats (new in r5): consecutive same-type
    * gaps per user in exact integer microseconds, rolled up per type —
    * cadence/anomaly view, integer-exact oracle replay.
    */
  def eInterarrival(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EventOps.interArrivalStats(
        spark.read.parquet(s"$dir/events.parquet"))
      .orderBy("event_type")

  /** Algebraic stats rollup (new in r5): per-source mergeable accumulators
    * rolled up to ONE global row, avg/variance derived from the merged
    * exact integer sums — must equal direct global aggregation (the
    * per-partition-stats-reuse identity; the oracle aggregates the table
    * directly in one level).
    */
  def vStatsMerged(spark: SparkSession, dir: String): DataFrame =
    StatsOps.mergeStatParts(StatsOps.mergeableStats(tok(spark, dir)))

  /** Cross-snapshot violation diff (new in r5): current vs baseline
    * (even-okey) snapshot violations classified new / resolved /
    * persisting per rule — the regression view of two validation runs.
    */
  /** One-pass subset form since r6 ([[graft.report.ReportOps
    * .diffReportSubset]]): half the corpus I/O of diffing two independent
    * rule passes; output pinned unchanged by the same oracle.
    */
  def rReportDiff(spark: SparkSession, dir: String): DataFrame =
    graft.report.ReportOps.diffReportSubset(
        tok(spark, dir), ruleSet, dims(spark), col("okey") % 2 === 0)
      .orderBy("rule_id", "status")

  /** PSI drift (new in r5): per-source Population Stability Index of the
    * n_tok distribution, current vs even-okey baseline — the production
    * drift score beside the quantile and L1 views; arithmetic replayed
    * exactly by the oracle (explicit 1e-6 share floor, round-6 score).
    */
  def vPsiDrift(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Drift.psiDrift(
        tok(spark, dir), baselineTok(spark, dir), "n_tok",
        bucketWidth = 10, threshold = 0.1)
      .orderBy("source")

  /** Approx-distinct cardinality certification (new in r5): per-source
    * HLL++ doc_id cardinality (rsd 2%) checked against the exact count —
    * the output is the exact count plus the bound VERDICT, so the oracle
    * (which has no HLL) verifies that Spark's sketch landed within 3·rsd.
    * At 100 TB only the sketch runs; this query is its certification at
    * oracle scale (the recall-pinning pattern, cf. `d_minhash_recall`).
    */
  def vCardinality(spark: SparkSession, dir: String): DataFrame =
    tok(spark, dir).groupBy("source").agg(
        countDistinct(col("doc_id")).as("exact_distinct"),
        approx_count_distinct(col("doc_id"), 0.02).as("approx_distinct"))
      .select(col("source"), col("exact_distinct"),
        (abs(col("approx_distinct") - col("exact_distinct")).cast("double")
          <= col("exact_distinct") * lit(0.06)).as("within_bound"))
      .orderBy("source")

  /** Quality ratio family (length/punct/stopword — the training-pipeline
    * quality-signal set beyond TTR).
    */
  def dQualityRatios(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityRatios(docs(spark, dir))
      .select(col("doc_id"), col("n_chars"),
        round(col("punct_ratio"), 6).as("punct_ratio"),
        round(col("space_ratio"), 6).as("space_ratio"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"))
      .orderBy("doc_id")

  /** Resize plumbing over the stub image grid: deterministic
    * nearest-neighbor sampled-byte checksum per document.
    */
  def mMediaResize(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.resizeStub(spark,
        MultimodalOps.asMediaTable(docs(spark, dir)), tw = 8, th = 8)
      .toDF().orderBy("doc_id")

  def mMediaFeatures(spark: SparkSession, dir: String): DataFrame =
    MultimodalOps.decodeFeatures(spark,
        MultimodalOps.asMediaTable(docs(spark, dir)))
      .toDF().select("doc_id", "n_bytes", "width", "height")
      .orderBy("doc_id")

  // ---- registry ------------------------------------------------------------

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v_violations" -> (vViolations _),
    "v_summary" -> (vSummary _),
    "v_rule_matrix" -> (vRuleMatrix _),
    "v_routed_matrix" -> (vRoutedMatrix _),
    "v_routed_wide" -> (vRoutedWide _),
    "r_report_full" -> (rReportFull _),
    "v_dedup_issues" -> (vDedupIssues _),
    "v_stats" -> (vStats _),
    "v_histogram" -> (vHistogram _),
    "v_quantiles" -> (vQuantiles _),
    "v_token_topk" -> (vTokenTopk _),
    "v_resume_pending" -> (vResumePending _),
    "v_drift_exact" -> (vDriftExact _),
    "v_drift_sketch" -> (vDriftSketch _),
    "v_drift_sketch_bound" -> (vDriftSketchBound _),
    "v_token_hist_drift" -> (vTokenHistDrift _),
    "r_severity_sorted" -> (rSeveritySorted _),
    "r_fdpg_split" -> (rFdpgSplit _),
    "r_length_mismatch" -> (rLengthMismatch _),
    "r_hist_pivot" -> (rHistPivot _),
    "v_sql_stats" -> (vSqlStats _),
    "v_topk_dups" -> (vTopDups _),
    "v_dup_ranked" -> (vDupRanked _),
    "v_fallback" -> (vFallback _),
    "v_contained" -> (vContained _),
    "r_report_sources" -> (rReportSources _),
    "r_detail_groups" -> (rDetailGroups _),
    "r_detail_filter" -> (rDetailFilter _),
    "j_parse_violations" -> (jParseViolations _),
    "j_valid_summary" -> (jValidSummary _),
    "s_stream_rule_matrix" -> (sStreamRuleMatrix _),
    "s_stream_unique" -> (sStreamUnique _),
    "s_window_drift" -> (sWindowDrift _),
    "r_report_persisted" -> (rReportPersisted _),
    "r_report_resumed" -> (rReportResumed _),
    "v_ref_big_dim" -> (vRefBigDim _),
    "v_ref_chain" -> (vRefChain _),
    "v_ref_loaded_dim" -> (vRefLoadedDim _),
    "d_tokcount" -> (dTokcount _),
    "d_quality" -> (dQuality _),
    "d_langid_accuracy" -> (dLangidAccuracy _),
    "d_langid_ngram" -> (dLangidNgram _),
    "d_bpeish_tokcount" -> (dBpeishTokcount _),
    "d_winnow_dups" -> (dWinnowDups _),
    "d_fingerprint_dups" -> (dFingerprintDups _),
    "d_decontaminate" -> (dDecontaminate _),
    "d_minhash_dups" -> (dMinhashDups _),
    "d_minhash_recall" -> (dMinhashRecall _),
    "d_ngram_jaccard" -> (dNgramJaccard _),
    "d_simhash_dups" -> (dSimhashDups _),
    "d_simhash_md5_dups" -> (dSimhashMd5Dups _),
    "d_simhash_recall" -> (dSimhashRecall _),
    "e_knn_brute" -> (eKnnBrute _),
    "e_ann_lsh_idx" -> (eAnnLshIdx _),
    "e_ann_ivf_idx" -> (eAnnIvfIdx _),
    "e_ann_ivf_kmeans" -> (eAnnIvfKmeans _),
    "e_near_dup" -> (eNearDup _),
    "e_near_dup_recall" -> (eNearDupRecall _),
    "m_media_features" -> (mMediaFeatures _),
    "m_media_resize" -> (mMediaResize _),
    "d_quality_ratios" -> (dQualityRatios _),
    "d_dup_clusters" -> (dDupClusters _),
    "d_split_assign" -> (dSplitAssign _),
    "d_stratified_sample" -> (dStratifiedSample _),
    "v_stats_merged" -> (vStatsMerged _),
    "r_report_diff" -> (rReportDiff _),
    "v_psi_drift" -> (vPsiDrift _),
    "e_asof_join" -> (eAsofJoin _),
    "e_sessionize" -> (eSessionize _),
    "s_sessionize" -> (sSessionize _),
    "v_rollup_matrix" -> (vRollupMatrix _),
    "r_rule_overlap" -> (rRuleOverlap _),
    "v_cardinality" -> (vCardinality _),
    "d_repetition" -> (dRepetition _),
    "d_quality_filter" -> (dQualityFilter _),
    "v_seq_packing" -> (vSeqPacking _),
    "v_seq_packing2" -> (vSeqPacking2 _),
    "d_tfidf_topk" -> (dTfidfTopk _),
    "d_entropy" -> (dEntropy _),
    "d_source_overlap" -> (dSourceOverlap _),
    "e_funnel" -> (eFunnel _),
    "e_props_extract" -> (ePropsExtract _),
    "e_transitions" -> (eTransitions _),
    "e_interarrival" -> (eInterarrival _),
    "s_stream_dedup" -> (sStreamDedup _),
    "v_conditional" -> (vConditional _),
    "v_schema_check" -> (vSchemaCheck _),
    "v_snapshot_data_diff" -> (vSnapshotDataDiff _),
    "e_centroid_shift" -> (eCentroidShift _),
    "r_rule_examples" -> (rRuleExamples _),
    "v_fd_check" -> (vFdCheck _),
    "v_unique_composite" -> (vUniqueComposite _),
    "v_incremental_reval" -> (vIncrementalReval _),
    "e_hourly_anomalies" -> (eHourlyAnomalies _),
    "v_profile_suggest" -> (vProfileSuggest _),
    "d_lm_score" -> (dLmScore _),
    "d_zipf_slope" -> (dZipfSlope _),
    "e_quantize_error" -> (eQuantizeError _),
    "v_quarantine" -> (vQuarantine _),
    "v_pipeline" -> (vPipeline _),
    "e_retention" -> (eRetention _),
    "s_event_dedup_wm" -> (sEventDedupWm _),
    "e_ann_ivf_q" -> (eAnnIvfQ _),
    "v_token_bigrams" -> (vTokenBigrams _),
    "v_token_pmi" -> (vTokenPmi _),
    "v_docs_validate" -> (vDocsValidate _),
    "v_repair" -> (vRepair _),
    "v_chunk_windows" -> (vChunkWindows _),
    "v_expect_suite" -> (vExpectSuite _),
    "v_run_history" -> (vRunHistory _),
    "v_approx_unique" -> (vApproxUnique _),
    "d_lm_buckets" -> (dLmBuckets _),
    "d_mix_weights" -> (dMixWeights _),
    "d_pii_scrub" -> (dPiiScrub _),
    "v_token_budget" -> (vTokenBudget _),
    "d_corpus_funnel" -> (dCorpusFunnel _),
    "d_incremental_dedup" -> (dIncrementalDedup _),
    "v_skew_report" -> (vSkewReport _),
    "d_shuffle_order" -> (dShuffleOrder _),
    "d_normalize" -> (dNormalize _),
  )

  // ---- DuckDB oracles ------------------------------------------------------

  private val cte = TokenTable.duckCte

  /** DuckDB replica of [[embsAug]] — integer arithmetic + one double
    * multiply/add per component, in the same order as the Spark expression,
    * so both engines produce bit-identical vectors.
    */
  private val augCte: String =
    """aug AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
      |  UNION ALL
      |  SELECT 100000*c + vec_id,
      |         list_transform(range(1, len(embedding)+1),
      |           j -> CAST(embedding[j] AS DOUBLE) +
      |                CAST(((vec_id*31 + c*17 + (j-1)*13) % 21) - 10 AS DOUBLE)
      |                  * CAST(0.002 AS DOUBLE))
      |  FROM embeddings, (VALUES (1), (2)) AS t(c)
      |  WHERE vec_id % 5 = 0
      |)""".stripMargin

  /** DuckDB replica of the chunk-bucketed 60-bit md5 SimHash pipeline
    * ([[graft.operators.DedupOps.simHashDuplicates]] with
    * `md5WordHash60`/`bits = 60`), including the hot-bucket cap.
    */
  private def simhashOracle(maxHamming: Int): String =
    s"""WITH w AS (
       |  SELECT doc_id, unnest(list_distinct(list_filter(
       |    string_split(text, ' '), x -> x <> ''))) AS word
       |  FROM documents),
       |h AS (SELECT doc_id,
       |        CAST(concat('0x', substring(md5(word), 1, 15)) AS BIGINT) AS h
       |      FROM w),
       |bits AS (
       |  SELECT doc_id, b,
       |         CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
       |              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
       |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) GROUP BY doc_id, b),
       |sh AS (SELECT doc_id, CAST(sum(bit << b) AS BIGINT) AS simhash
       |       FROM bits GROUP BY doc_id),
       |chunks AS (
       |  SELECT doc_id, simhash, c AS chunk_id,
       |         (simhash >> (c * 15)) & 32767 AS chunk_key
       |  FROM sh CROSS JOIN (VALUES (0), (1), (2), (3)) t(c)
       |  QUALIFY count(*) OVER (PARTITION BY c, (simhash >> (c * 15)) & 32767)
       |          <= 1000),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.simhash AS sa, b.simhash AS sb
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk_id = b.chunk_id AND a.chunk_key = b.chunk_key
       |   AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |       CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM pairs WHERE bit_count(xor(sa, sb)) <= $maxHamming
       |ORDER BY doc_a, doc_b""".stripMargin

  private def duckCos(a: String, b: String): String =
    s"""(list_dot_product($a, $b) /
       | (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))))""".stripMargin

  /** Distinct 3-shingle CTE over `documents` (shared by the exact-Jaccard
    * oracles): `sh3(doc_id, sh)`.
    */
  private val shingleCte: String =
    """w AS (
      |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
      |  FROM documents),
      |sh3 AS (
      |  SELECT doc_id, CASE WHEN len(ws) >= 3
      |    THEN list_distinct(list_transform(range(1, len(ws)-1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
      |    ELSE [coalesce(array_to_string(ws,' '), '')] END AS sh
      |  FROM w)""".stripMargin

  /** All violations as a DuckDB CTE `v(doc_id, rule_id, detail, severity,
    * source)` — the closed-form recomputation of the injected violations.
    */
  /** The four ROW-LOCAL branches of the default rule set (shared between
    * the full violations CTE and the resumed-report oracle, which drops
    * the dataset-global uniqueness branch).
    */
  private def rowRefViolBranchesOver(t: String): String =
    s"""  SELECT doc_id, 'not_null_tokens' AS rule_id,
       |         'tokens is null: minimum required = 1, but only found 0' AS detail,
       |         'fatal' AS severity, source
       |  FROM $t WHERE tokens_null
       |  UNION ALL
       |  SELECT doc_id, 'len_consistency',
       |         'n_tok=' || n_tok || ' size=' || n_true, 'error', source
       |  FROM $t WHERE NOT tokens_null AND n_tok <> n_true
       |  UNION ALL
       |  SELECT doc_id, 'token_bounds', 'token out of [0,50000)', 'warning', source
       |  FROM $t WHERE NOT tokens_null AND key % 109 = 0
       |  UNION ALL
       |  SELECT doc_id, 'ref_source',
       |         'source=''' || source || ''' not in allowed_sources', 'error', source
       |  FROM $t WHERE source NOT IN ('A','N','R')""".stripMargin

  private val rowRefViolBranches: String = rowRefViolBranchesOver("tok")

  /** Full violation set (row + referential + uniqueness) as a named CTE
    * over an arbitrary token view `t` — lets one oracle recompute the
    * violations of BOTH snapshots (the diff report's two sides).
    */
  private def violationsOver(t: String, v: String): String =
    s"""$v AS (
       |${rowRefViolBranchesOver(t)}
       |  UNION ALL
       |  SELECT doc_id, 'unique_doc_id',
       |         'doc_id occurs ' || cnt || ' times', 'warning', minsrc
       |  FROM (SELECT doc_id, count(*) AS cnt, min(source) AS minsrc
       |        FROM $t GROUP BY doc_id) WHERE cnt > 1
       |)""".stripMargin

  private val violationsCte: String =
    s"""$cte, v AS (
       |$rowRefViolBranches
       |  UNION ALL
       |  SELECT doc_id, 'unique_doc_id',
       |         'doc_id occurs ' || cnt || ' times', 'warning', minsrc
       |  FROM (SELECT doc_id, count(*) AS cnt, min(source) AS minsrc
       |        FROM tok GROUP BY doc_id) WHERE cnt > 1
       |)""".stripMargin

  /** Row-local rules only — what a resumed run's report provably equals. */
  private val violationsNoUniqueCte: String =
    s"""$cte, v AS (
       |$rowRefViolBranches
       |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "v_violations" ->
      s"""WITH $violationsCte
         |SELECT doc_id, rule_id, detail FROM v
         |ORDER BY doc_id, rule_id, detail""".stripMargin,

    // cross-snapshot diff: violations of the full table vs the even-okey
    // baseline snapshot, identity (doc_id, rule_id, source), classified
    // new / resolved / persisting per rule
    "r_report_diff" ->
      s"""WITH $cte,
         |tokb AS (SELECT * FROM tok WHERE okey % 2 = 0),
         |${violationsOver("tok", "vc")},
         |${violationsOver("tokb", "vb")},
         |cur AS (SELECT DISTINCT doc_id, rule_id, source FROM vc),
         |base AS (SELECT DISTINCT doc_id, rule_id, source FROM vb),
         |j AS (
         |  SELECT coalesce(c.rule_id, b.rule_id) AS rule_id,
         |         CASE WHEN c.doc_id IS NOT NULL AND b.doc_id IS NOT NULL
         |              THEN 'persisting'
         |              WHEN c.doc_id IS NOT NULL THEN 'new'
         |              ELSE 'resolved' END AS status
         |  FROM cur c FULL OUTER JOIN base b
         |    ON c.doc_id = b.doc_id AND c.rule_id = b.rule_id
         |       AND c.source = b.source)
         |SELECT rule_id, status, CAST(count(*) AS BIGINT) AS cnt
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // PSI over n_tok width-10 buckets, baseline = even-okey snapshot;
    // identical share floor (1e-6) and round-6 score on both engines
    "v_psi_drift" ->
      s"""WITH $cte,
         |hc AS (SELECT source, CAST(floor(n_tok/10.0) AS BIGINT) AS bucket,
         |              count(*) AS cur_cnt FROM tok GROUP BY 1, 2),
         |hb AS (SELECT source, CAST(floor(n_tok/10.0) AS BIGINT) AS bucket,
         |              count(*) AS base_cnt FROM tok WHERE okey % 2 = 0
         |       GROUP BY 1, 2),
         |j AS (
         |  SELECT coalesce(hc.source, hb.source) AS source,
         |         coalesce(cur_cnt, 0) AS cur_cnt,
         |         coalesce(base_cnt, 0) AS base_cnt
         |  FROM hc FULL OUTER JOIN hb
         |    ON hc.source = hb.source AND hc.bucket = hb.bucket),
         |t AS (
         |  SELECT source, cur_cnt, base_cnt,
         |         sum(cur_cnt) OVER (PARTITION BY source) AS cur_tot,
         |         sum(base_cnt) OVER (PARTITION BY source) AS base_tot
         |  FROM j),
         |p AS (
         |  SELECT source,
         |         greatest(CAST(cur_cnt AS DOUBLE)/cur_tot, 1e-6) AS pc,
         |         greatest(CAST(base_cnt AS DOUBLE)/base_tot, 1e-6) AS pb
         |  FROM t),
         |sc AS (
         |  SELECT source, round(sum((pc-pb)*ln(pc/pb)), 6) AS psi
         |  FROM p GROUP BY source)
         |SELECT source, psi, psi > 0.1 AS drifted
         |FROM sc ORDER BY source""".stripMargin,

    // the oracle has no HLL: it recomputes the exact side and pins the
    // bound verdict Spark emitted (within_bound=false would hash-mismatch)
    "v_cardinality" ->
      s"""WITH $cte
         |SELECT source,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_distinct,
         |       true AS within_bound
         |FROM tok GROUP BY source ORDER BY source""".stripMargin,

    // two independent as-of formulations: the engine's union+running-window
    // carry-forward vs DuckDB's native ASOF LEFT JOIN (inclusive backward
    // match on l.ts >= r.ts within user_id)
    "e_asof_join" ->
      """SELECT c.event_id, c.user_id, c.value,
        |       v.value AS view_value, v.event_id AS view_event
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin,

    // gaps-and-islands sessionization, exact integer microseconds
    "e_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |                   > 30*60*1000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, us,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY us
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS session
        |  FROM g)
        |SELECT user_id, CAST(session AS BIGINT) AS session,
        |       count(*) AS n_events,
        |       CAST(max(us) - min(us) AS BIGINT) AS span_us
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session""".stripMargin,

    // streaming session windows: batch gaps-and-islands with the
    // EXCLUSIVE boundary (event exactly `gap` later opens a new session)
    // + the final-watermark cutoff, mirroring s_window_drift's oracle
    "s_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |                   >= 30*60*1000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS session
        |  FROM g),
        |agg AS (
        |  SELECT user_id, session, min(ts) AS session_start,
        |         max(ts) + INTERVAL 30 MINUTE AS session_end,
        |         count(*) AS n_events
        |  FROM s GROUP BY 1, 2)
        |SELECT strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
        |       strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
        |       user_id, n_events
        |FROM agg
        |WHERE session_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
        |ORDER BY user_id, session_start""".stripMargin,

    // rollup levels marked by NULL grouping columns in both engines
    "v_rollup_matrix" ->
      s"""WITH $violationsCte
         |SELECT source, rule_id, CAST(count(*) AS BIGINT) AS violations
         |FROM v GROUP BY ROLLUP(source, rule_id)
         |ORDER BY source NULLS FIRST, rule_id NULLS FIRST""".stripMargin,

    // set-op completeness: INTERSECT beside r_fdpg_split's EXCEPT
    "r_rule_overlap" ->
      s"""WITH $cte,
         |tokb AS (SELECT * FROM tok WHERE okey % 2 = 0),
         |${violationsOver("tok", "vc")},
         |${violationsOver("tokb", "vb")}
         |SELECT rule_id FROM vc
         |INTERSECT
         |SELECT rule_id FROM vb
         |ORDER BY rule_id""".stripMargin,

    // algebraic rollup == direct global aggregation: avg/var derived from
    // exact integer sums with the same one-double-op-each expressions
    "v_stats_merged" ->
      s"""WITH $cte
         |SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(n_tok) AS BIGINT) AS sum_n_tok,
         |       min(n_tok) AS min_n_tok, max(n_tok) AS max_n_tok,
         |       CAST(sum(CASE WHEN tokens_null THEN 1 ELSE 0 END) AS BIGINT)
         |         AS null_tokens,
         |       CAST(sum(n_tok) AS DOUBLE) / count(*) AS avg_n_tok,
         |       CAST(sum(CAST(n_tok AS BIGINT) * n_tok) AS DOUBLE) / count(*)
         |         - (CAST(sum(n_tok) AS DOUBLE) / count(*))
         |           * (CAST(sum(n_tok) AS DOUBLE) / count(*)) AS var_n_tok
         |FROM tok""".stripMargin,

    // stratified sample: identical md5 threshold per stratum, verified by
    // per-stratum kept counts + boundary doc ids
    "d_stratified_sample" ->
      s"""WITH $cte,
         |s AS (
         |  SELECT source, doc_id,
         |         CAST(concat('0x', substring(
         |           md5(doc_id || ':' || CAST(okey AS VARCHAR)), 1, 8))
         |           AS BIGINT) % 100 AS b
         |  FROM tok)
         |SELECT source, CAST(count(*) AS BIGINT) AS kept,
         |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM s
         |WHERE b < CASE source WHEN 'A' THEN 50 WHEN 'N' THEN 10
         |                      WHEN 'R' THEN 80 ELSE 20 END
         |GROUP BY source ORDER BY source""".stripMargin,

    "v_summary" ->
      s"""WITH $violationsCte,
         |vc AS (SELECT source, count(*) AS nv FROM v GROUP BY source)
         |SELECT t.source, count(*) AS n_rows,
         |       coalesce(max(vc.nv), 0) AS n_violations,
         |       coalesce(max(vc.nv), 0) = 0 AS pass
         |FROM tok t LEFT JOIN vc ON t.source = vc.source
         |GROUP BY t.source ORDER BY t.source""".stripMargin,

    "v_rule_matrix" ->
      s"""WITH $violationsCte
         |SELECT source, rule_id, count(*) AS violations FROM v
         |GROUP BY source, rule_id ORDER BY source, rule_id""".stripMargin,

    // per-source routing: R gets the lenient set (not_null_tokens +
    // len_consistency only); all other sources get the strict set, with
    // uniqueness/referential computed over the strict slice only
    "v_routed_matrix" ->
      s"""WITH $cte,
         |v AS (
         |  SELECT doc_id, 'not_null_tokens' AS rule_id, source
         |  FROM tok WHERE tokens_null
         |  UNION ALL
         |  SELECT doc_id, 'len_consistency', source
         |  FROM tok WHERE NOT tokens_null AND n_tok <> n_true
         |  UNION ALL
         |  SELECT doc_id, 'token_bounds', source
         |  FROM tok WHERE source <> 'R' AND NOT tokens_null AND key % 109 = 0
         |  UNION ALL
         |  SELECT doc_id, 'ref_source', source
         |  FROM tok WHERE source <> 'R' AND source NOT IN ('A','N','R')
         |  UNION ALL
         |  SELECT doc_id, 'unique_doc_id', minsrc AS source
         |  FROM (SELECT doc_id, count(*) AS cnt, min(source) AS minsrc
         |        FROM tok WHERE source <> 'R' GROUP BY doc_id) WHERE cnt > 1
         |)
         |SELECT source, rule_id, count(*) AS violations FROM v
         |GROUP BY source, rule_id ORDER BY source, rule_id""".stripMargin,

    // closed-form replica of the 400-set wide dispatch: bucket b = okey%400
    // selects rule set p_b, whose range bound is 10 + (b % 37)
    "v_routed_wide" ->
      s"""WITH $cte,
         |tw AS (SELECT doc_id, n_tok, n_true, tokens_null,
         |              source || '_' || CAST(okey % 400 AS VARCHAR) AS source,
         |              okey % 400 AS b
         |       FROM tok),
         |v AS (
         |  SELECT doc_id, 'nn' AS rule_id, source FROM tw WHERE tokens_null
         |  UNION ALL
         |  SELECT doc_id, 'lc', source FROM tw
         |  WHERE NOT tokens_null AND n_tok <> n_true
         |  UNION ALL
         |  SELECT doc_id, 'rng', source FROM tw
         |  WHERE n_tok < 1 OR n_tok >= 10 + (b % 37)
         |)
         |SELECT source, rule_id, count(*) AS violations FROM v
         |GROUP BY source, rule_id ORDER BY source, rule_id""".stripMargin,

    "r_report_full" ->
      s"""WITH $violationsCte
         |SELECT CASE WHEN rule_id IN ('len_consistency','token_bounds','not_null_tokens')
         |            THEN 'fdpg' ELSE 'general' END AS category,
         |       CASE severity WHEN 'fatal' THEN 0 WHEN 'error' THEN 1
         |            WHEN 'warning' THEN 2 ELSE 3 END AS severity_rank,
         |       CASE WHEN severity IN ('fatal','error') THEN 'red'
         |            WHEN severity = 'warning' THEN 'orange'
         |            ELSE 'gray' END AS color,
         |       severity, rule_id,
         |       regexp_replace(regexp_replace(detail, '\\[[0-9]+\\]', '[*]', 'g'),
         |                      '''[^'']*''', '''?''', 'g') AS detail_generic,
         |       count(*) AS cnt
         |FROM v GROUP BY 1, 2, 3, 4, 5, 6
         |ORDER BY category, severity_rank, rule_id, detail_generic""".stripMargin,

    "v_dedup_issues" ->
      s"""WITH $violationsCte
         |SELECT severity, rule_id,
         |       regexp_replace(regexp_replace(detail, '\\[[0-9]+\\]', '[*]', 'g'),
         |                      '''[^'']*''', '''?''', 'g') AS detail_generic,
         |       count(*) AS cnt
         |FROM v GROUP BY 1, 2, 3
         |ORDER BY severity, rule_id, detail_generic""".stripMargin,

    "v_stats" ->
      s"""WITH $cte
         |SELECT source, count(*) AS n_rows,
         |       min(n_tok) AS min_n_tok, max(n_tok) AS max_n_tok,
         |       avg(n_tok) AS avg_n_tok,
         |       CAST(sum(CASE WHEN tokens_null THEN 1 ELSE 0 END) AS BIGINT) AS null_tokens,
         |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |FROM tok GROUP BY source ORDER BY source""".stripMargin,

    "v_histogram" ->
      s"""WITH $cte
         |SELECT source, CAST(floor(n_tok / 10.0) AS BIGINT) AS bucket,
         |       count(*) AS cnt
         |FROM tok GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin,

    "v_quantiles" ->
      s"""WITH $cte
         |SELECT source,
         |       quantile_cont(n_tok, 0.25) AS q0,
         |       quantile_cont(n_tok, 0.50) AS q1,
         |       quantile_cont(n_tok, 0.75) AS q2,
         |       quantile_cont(n_tok, 0.95) AS q3
         |FROM tok GROUP BY source ORDER BY source""".stripMargin,

    // exact token regeneration (same closed form as v_token_hist_drift),
    // count per (source, token), top-5 by (cnt desc, token asc)
    "v_token_topk" ->
      s"""WITH $cte,
         |ex AS (
         |  SELECT source,
         |         CASE WHEN j = 0 AND key % 109 = 0 THEN 50000 + key % 7
         |              ELSE (key*31 + j*17) % 50000 END AS token
         |  FROM (SELECT *, unnest(generate_series(0, CAST(n_true AS BIGINT) - 1)) AS j
         |        FROM tok WHERE NOT tokens_null)),
         |c AS (SELECT source, CAST(token AS INT) AS token, count(*) AS cnt
         |      FROM ex GROUP BY 1, 2)
         |SELECT source, token, cnt,
         |       CAST(rank AS INT) AS rank
         |FROM (SELECT source, token, cnt,
         |             row_number() OVER (PARTITION BY source
         |               ORDER BY cnt DESC, token) AS rank
         |      FROM c)
         |WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    "d_decontaminate" ->
      s"""WITH $shingleCte,
         |pairs AS (
         |  SELECT c.doc_id, e.doc_id AS eval_id,
         |         len(list_intersect(c.sh, e.sh)) AS shared
         |  FROM sh3 c JOIN sh3 e ON c.doc_id >= 25 AND e.doc_id < 25)
         |SELECT doc_id, count(*) AS n_eval_hits,
         |       CAST(max(shared) AS BIGINT) AS max_shared
         |FROM pairs WHERE shared >= 3
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "v_resume_pending" ->
      s"""WITH $cte
         |SELECT DISTINCT source FROM tok
         |WHERE source NOT IN ('A','N') ORDER BY source""".stripMargin,

    "v_drift_exact" ->
      s"""WITH $cte,
         |cur AS (SELECT source, avg(n_tok) AS a,
         |               quantile_cont(n_tok, 0.5) AS q0,
         |               quantile_cont(n_tok, 0.95) AS q1
         |        FROM tok GROUP BY source),
         |base AS (SELECT source, avg(n_tok) AS a,
         |               quantile_cont(n_tok, 0.5) AS q0,
         |               quantile_cont(n_tok, 0.95) AS q1
         |        FROM tok WHERE okey % 2 = 0 GROUP BY source)
         |SELECT cur.source, abs(cur.a - base.a) AS delta_avg,
         |       abs(cur.q0 - base.q0) AS delta_q0,
         |       abs(cur.q1 - base.q1) AS delta_q1,
         |       greatest(abs(cur.q0 - base.q0), abs(cur.q1 - base.q1)) > 1.0 AS drifted
         |FROM cur FULL OUTER JOIN base USING (source)
         |ORDER BY source""".stripMargin,

    "v_token_hist_drift" ->
      s"""WITH $cte,
         |ex AS (
         |  SELECT source, okey,
         |         CASE WHEN j = 0 AND key % 109 = 0 THEN 50000 + key % 7
         |              ELSE (key*31 + j*17) % 50000 END AS t
         |  FROM (SELECT *, unnest(generate_series(0, CAST(n_true AS BIGINT) - 1)) AS j
         |        FROM tok WHERE NOT tokens_null)
         |),
         |cur AS (SELECT source, CAST(floor(t/1000.0) AS BIGINT) AS bucket,
         |               count(*) AS cur_cnt FROM ex GROUP BY 1, 2),
         |base AS (SELECT source, CAST(floor(t/1000.0) AS BIGINT) AS bucket,
         |               count(*) AS base_cnt FROM ex WHERE okey % 2 = 0 GROUP BY 1, 2),
         |ct AS (SELECT source, CAST(sum(cur_cnt) AS BIGINT) AS cur_tot FROM cur GROUP BY 1),
         |bt AS (SELECT source, CAST(sum(base_cnt) AS BIGINT) AS base_tot FROM base GROUP BY 1)
         |SELECT j.source,
         |       CAST(CAST(sum(abs(coalesce(j.cur_cnt, 0) * bt.base_tot -
         |                 coalesce(j.base_cnt, 0) * ct.cur_tot)) AS BIGINT) AS DOUBLE)
         |         / CAST(max(ct.cur_tot) * max(bt.base_tot) AS DOUBLE) AS l1_distance
         |FROM (SELECT coalesce(cur.source, base.source) AS source,
         |             coalesce(cur.bucket, base.bucket) AS bucket,
         |             cur.cur_cnt, base.base_cnt
         |      FROM cur FULL OUTER JOIN base
         |        ON cur.source = base.source AND cur.bucket = base.bucket) j
         |JOIN ct ON j.source = ct.source
         |JOIN bt ON j.source = bt.source
         |GROUP BY j.source ORDER BY j.source""".stripMargin,

    "r_severity_sorted" ->
      s"""WITH $violationsCte
         |SELECT severity, rule_id,
         |       regexp_replace(regexp_replace(detail, '\\[[0-9]+\\]', '[*]', 'g'),
         |                      '''[^'']*''', '''?''', 'g') AS detail_generic,
         |       count(*) AS cnt,
         |       CASE severity WHEN 'fatal' THEN 0 WHEN 'error' THEN 1
         |            WHEN 'warning' THEN 2 ELSE 3 END AS severity_rank
         |FROM v GROUP BY 1, 2, 3
         |ORDER BY severity_rank, rule_id, detail_generic""".stripMargin,

    "r_fdpg_split" ->
      s"""WITH $violationsCte
         |SELECT CASE WHEN rule_id IN ('len_consistency','token_bounds','not_null_tokens')
         |            THEN 'fdpg' ELSE 'general' END AS category,
         |       count(*) AS n
         |FROM v GROUP BY 1 ORDER BY category""".stripMargin,

    "r_length_mismatch" ->
      s"""WITH $violationsCte
         |SELECT doc_id,
         |       CAST(regexp_extract(detail, 'n_tok=([0-9]+) size=([0-9]+)', 1) AS INT) AS declared,
         |       CAST(regexp_extract(detail, 'n_tok=([0-9]+) size=([0-9]+)', 2) AS INT) AS actual
         |FROM v WHERE rule_id = 'len_consistency'
         |ORDER BY doc_id, declared, actual""".stripMargin,

    "r_hist_pivot" ->
      s"""WITH $cte,
         |h AS (SELECT source, CAST(floor(n_tok / 10.0) AS BIGINT) AS bucket,
         |             count(*) AS cnt FROM tok GROUP BY 1, 2)
         |SELECT source,
         |       coalesce(CAST(max(CASE WHEN bucket = 0 THEN cnt END) AS VARCHAR), '--') AS b0,
         |       coalesce(CAST(max(CASE WHEN bucket = 1 THEN cnt END) AS VARCHAR), '--') AS b1,
         |       coalesce(CAST(max(CASE WHEN bucket = 2 THEN cnt END) AS VARCHAR), '--') AS b2,
         |       coalesce(CAST(max(CASE WHEN bucket = 3 THEN cnt END) AS VARCHAR), '--') AS b3,
         |       coalesce(CAST(max(CASE WHEN bucket = 4 THEN cnt END) AS VARCHAR), '--') AS b4,
         |       coalesce(CAST(max(CASE WHEN bucket = 5 THEN cnt END) AS VARCHAR), '--') AS b5,
         |       coalesce(CAST(max(CASE WHEN bucket = 6 THEN cnt END) AS VARCHAR), '--') AS b6
         |FROM h GROUP BY source ORDER BY source""".stripMargin,

    "v_sql_stats" ->
      s"""WITH $cte
         |SELECT source, count(*) AS n_rows,
         |       min(n_tok) AS min_n_tok, max(n_tok) AS max_n_tok,
         |       quantile_cont(n_tok, 0.5) AS med_n_tok
         |FROM tok GROUP BY source ORDER BY source""".stripMargin,

    "v_topk_dups" ->
      s"""WITH $cte
         |SELECT doc_id, count(*) AS cnt FROM tok
         |GROUP BY doc_id HAVING count(*) > 1
         |ORDER BY cnt DESC, doc_id LIMIT 10""".stripMargin,

    "v_dup_ranked" ->
      s"""WITH $cte,
         |r AS (SELECT doc_id,
         |             row_number() OVER (PARTITION BY doc_id
         |                                ORDER BY n_tok, source) AS rn
         |      FROM tok)
         |SELECT doc_id, count(*) AS n_extra, CAST(max(rn) AS INT) AS max_rn
         |FROM r WHERE rn > 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "v_fallback" ->
      s"""WITH $violationsCte,
         |vc AS (SELECT source, count(*) AS nv FROM v GROUP BY source)
         |SELECT t.source, count(*) AS n_rows,
         |       coalesce(max(vc.nv), 0) AS n_violations,
         |       coalesce(max(vc.nv), 0) = 0 AS pass,
         |       TRUE AS fallback,
         |       'no rows for source ''ZZ''; validated without filter' AS note
         |FROM tok t LEFT JOIN vc ON t.source = vc.source
         |GROUP BY t.source ORDER BY t.source""".stripMargin,

    "v_contained" ->
      s"""WITH $violationsCte,
         |n AS (
         |  SELECT rule_id, count(*) AS n FROM v GROUP BY rule_id
         |  UNION ALL SELECT 'bad_col_rule', 1
         |  UNION ALL SELECT 'bad_ref_rule', 1)
         |SELECT rule_id, CAST(n AS BIGINT) AS n FROM n
         |ORDER BY rule_id""".stripMargin,

    "r_report_sources" ->
      s"""WITH $violationsCte
         |SELECT DISTINCT source FROM v ORDER BY source""".stripMargin,

    "r_detail_groups" ->
      s"""WITH $violationsCte
         |SELECT split_part(detail, '=', 1) AS detail_key,
         |       count(*) AS n,
         |       string_agg(DISTINCT rule_id, ',' ORDER BY rule_id) AS rule_ids
         |FROM v GROUP BY 1 ORDER BY detail_key""".stripMargin,

    "r_detail_filter" ->
      s"""WITH $violationsCte
         |SELECT doc_id, regexp_replace(detail, '^[a-z_]+=', '') AS detail
         |FROM v WHERE detail LIKE '%not in%'
         |ORDER BY doc_id, detail""".stripMargin,

    "j_parse_violations" ->
      s"""WITH $cte
         |SELECT doc_id, 'parse' AS rule_id FROM tok
         |WHERE key % 113 = 0 ORDER BY doc_id""".stripMargin,

    "j_valid_summary" ->
      s"""WITH $cte
         |SELECT source, count(*) AS n_rows,
         |       CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
         |FROM tok WHERE key % 113 <> 0
         |GROUP BY source ORDER BY source""".stripMargin,

    "v_ref_big_dim" ->
      s"""WITH $cte
         |SELECT source, count(*) AS violations FROM tok
         |WHERE okey NOT IN (SELECT o_orderkey FROM orders
         |                   WHERE o_orderstatus <> 'P')
         |GROUP BY source ORDER BY source""".stripMargin,

    "v_ref_loaded_dim" ->
      s"""WITH $cte
         |SELECT source, count(*) AS violations FROM tok
         |WHERE source NOT IN ('A', 'N')
         |GROUP BY source ORDER BY source""".stripMargin,

    "v_ref_chain" ->
      s"""WITH $cte
         |SELECT source, count(*) AS violations FROM tok
         |JOIN orders o ON tok.okey = o.o_orderkey
         |JOIN customer c ON o.o_custkey = c.c_custkey
         |WHERE c.c_acctbal < 0
         |GROUP BY source ORDER BY source""".stripMargin,

    // exact per-closed-window quantiles: the KLL sketch is loss-free up to
    // k items per group (k = 200 here), which holds for every
    // (1-day window, event_type) group at verify scale, so sketch output
    // == the rank-rule quantile value at ceil(p*n); emitted set = windows
    // closed by the final watermark max(ts) - 1h
    "s_window_drift" ->
      """WITH ev AS (SELECT date_trunc('day', ts) AS ws, event_type AS source,
        |                   value FROM events),
        |wq AS (
        |  SELECT ws, source,
        |     max(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT) THEN value END) AS q0,
        |     max(CASE WHEN rn = CAST(ceil(0.95*n) AS BIGINT) THEN value END) AS q1
        |  FROM (SELECT ws, source, value,
        |          row_number() OVER (PARTITION BY ws, source ORDER BY value) AS rn,
        |          count(*) OVER (PARTITION BY ws, source) AS n FROM ev)
        |  GROUP BY ws, source),
        |base AS (
        |  SELECT source,
        |     max(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT) THEN value END) AS bq0,
        |     max(CASE WHEN rn = CAST(ceil(0.95*n) AS BIGINT) THEN value END) AS bq1
        |  FROM (SELECT event_type AS source, value,
        |          row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |          count(*) OVER (PARTITION BY event_type) AS n
        |        FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00')
        |  GROUP BY source)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, source,
        |       greatest(abs(q0 - bq0), abs(q1 - bq1)) AS max_delta,
        |       greatest(abs(q0 - bq0), abs(q1 - bq1)) > 17.0 AS drifted
        |FROM wq JOIN base USING (source)
        |WHERE ws + INTERVAL 1 DAY <=
        |      (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
        |ORDER BY window_start, source""".stripMargin,

    "s_stream_rule_matrix" ->
      s"""WITH $violationsCte
         |SELECT source, rule_id, count(*) AS cnt FROM v
         |WHERE rule_id <> 'unique_doc_id'
         |GROUP BY source, rule_id ORDER BY source, rule_id""".stripMargin,

    // streaming dropDuplicates survivors per source == batch distinct
    // fingerprint count per source (the kept SET is deterministic even
    // though which doc wins per fingerprint is arrival-order-dependent)
    "s_stream_dedup" ->
      """WITH fp AS (
        |  SELECT source,
        |         md5(array_to_string(list_sort(list_distinct(
        |           list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS fp
        |  FROM documents)
        |SELECT source, count(DISTINCT fp) AS n_unique_fps
        |FROM fp GROUP BY source ORDER BY source""".stripMargin,

    // premise-gated conditional rules: violation iff premise AND inner
    // violation (WHERE cnt > 0 mirrors Spark's groupBy emitting no row for
    // an unviolated rule)
    "v_conditional" ->
      s"""WITH $cte,
         |cond AS (
         |  SELECT 'cond_a_ntok_cap' AS rule_id, 'error' AS severity,
         |         count(*) AS cnt
         |  FROM tok
         |  WHERE source = 'A' AND n_tok IS NOT NULL
         |    AND (n_tok < 1 OR n_tok >= 25)
         |  UNION ALL
         |  SELECT 'cond_n_token_bounds', 'warning', count(*)
         |  FROM tok WHERE source = 'N' AND NOT tokens_null AND key % 109 = 0)
         |SELECT rule_id, severity, cnt FROM cond WHERE cnt > 0
         |ORDER BY rule_id""".stripMargin,

    // schema conformance: both engines derive the ACTUAL schema from the
    // same parquet footers (DuckDB via DESCRIBE) and compare against the
    // same deliberately-mismatched expected spec
    "v_schema_check" ->
      """WITH actual AS (
        |  SELECT column_name AS cname,
        |         CASE column_type
        |           WHEN 'BIGINT' THEN 'bigint' WHEN 'VARCHAR' THEN 'string'
        |           WHEN 'INTEGER' THEN 'int' WHEN 'DOUBLE' THEN 'double'
        |           ELSE lower(column_type) END AS atype
        |  FROM (DESCRIBE SELECT * FROM documents)),
        |expected(cname, etype) AS (VALUES
        |  ('doc_id','bigint'), ('text','string'), ('source','string'),
        |  ('n_chars','int'), ('license','string')),
        |j AS (SELECT coalesce(a.cname, e.cname) AS "column", a.atype, e.etype
        |      FROM actual a FULL OUTER JOIN expected e ON a.cname = e.cname)
        |SELECT "column",
        |       CASE WHEN atype IS NULL THEN 'missing'
        |            WHEN etype IS NULL THEN 'unexpected'
        |            ELSE 'type_mismatch' END AS issue,
        |       CASE WHEN atype IS NULL THEN 'expected ' || etype
        |            WHEN etype IS NULL THEN 'found ' || atype
        |            ELSE 'expected ' || etype || ' found ' || atype
        |       END AS detail
        |FROM j WHERE atype IS NULL OR etype IS NULL OR atype <> etype
        |ORDER BY "column", issue""".stripMargin,

    // multiset snapshot diff (EXCEPT ALL both directions) aggregated per
    // (source, change) — the incremental-validation planning view
    "v_snapshot_data_diff" ->
      s"""WITH $cte,
         |cur AS (SELECT doc_id, n_tok, source, okey FROM tok
         |        WHERE source <> 'bogus'),
         |prev AS (SELECT doc_id, n_tok, source, okey FROM tok
         |         WHERE okey % 2 = 0),
         |d AS (
         |  SELECT source, 'added' AS change
         |  FROM (SELECT * FROM cur EXCEPT ALL SELECT * FROM prev)
         |  UNION ALL
         |  SELECT source, 'removed'
         |  FROM (SELECT * FROM prev EXCEPT ALL SELECT * FROM cur))
         |SELECT source, change, count(*) AS n_rows FROM d
         |GROUP BY source, change ORDER BY source, change""".stripMargin,

    // cosine between per-label centroids of the two vec_id-parity cohorts
    "e_centroid_shift" ->
      """WITH e AS (
        |  SELECT label, vec_id % 2 AS cohort,
        |         unnest(list_transform(range(1, len(embedding)+1),
        |                j -> struct_pack(pos := j,
        |                       v := CAST(embedding[j] AS DOUBLE)))) AS u
        |  FROM embeddings),
        |e2 AS (SELECT label, cohort, u.pos AS pos, u.v AS v FROM e),
        |cent AS (SELECT label, cohort, pos, avg(v) AS c
        |         FROM e2 GROUP BY 1, 2, 3),
        |j AS (SELECT a.label, a.c AS ca, b.c AS cb
        |      FROM cent a JOIN cent b ON a.label = b.label AND a.pos = b.pos
        |      WHERE a.cohort = 0 AND b.cohort = 1)
        |SELECT label,
        |       round(sum(ca*cb) / (sqrt(sum(ca*ca)) * sqrt(sum(cb*cb))),
        |             6) AS cos_shift
        |FROM j GROUP BY label ORDER BY label""".stripMargin,

    // profile-derived suggestions: same observed min/max/null-freedom and
    // sorted source dictionary; not_null rows emit iff zero nulls observed
    "v_profile_suggest" ->
      s"""WITH $cte,
         |p AS (SELECT CAST(min(n_tok) AS BIGINT) AS mn_t,
         |             CAST(max(n_tok) AS BIGINT) AS mx_t,
         |             CAST(min(okey) AS BIGINT) AS mn_o,
         |             CAST(max(okey) AS BIGINT) AS mx_o,
         |             sum(CASE WHEN n_tok IS NULL THEN 1 ELSE 0 END) AS nu_t,
         |             sum(CASE WHEN okey IS NULL THEN 1 ELSE 0 END) AS nu_o,
         |             sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS nu_s
         |      FROM tok),
         |sv AS (SELECT string_agg(v, ',' ORDER BY v) AS vals
         |       FROM (SELECT DISTINCT source AS v FROM tok
         |             WHERE source IS NOT NULL)),
         |rows AS (
         |  SELECT 'range_n_tok' AS rule_id, 'range' AS rule_type,
         |         'n_tok' AS "column", mn_t AS lo, mx_t AS hi,
         |         CAST(NULL AS VARCHAR) AS "values" FROM p
         |  UNION ALL
         |  SELECT 'range_okey', 'range', 'okey', mn_o, mx_o, NULL FROM p
         |  UNION ALL
         |  SELECT 'not_null_n_tok', 'not_null', 'n_tok', NULL, NULL, NULL
         |  FROM p WHERE nu_t = 0
         |  UNION ALL
         |  SELECT 'not_null_okey', 'not_null', 'okey', NULL, NULL, NULL
         |  FROM p WHERE nu_o = 0
         |  UNION ALL
         |  SELECT 'not_null_source', 'not_null', 'source', NULL, NULL, NULL
         |  FROM p WHERE nu_s = 0
         |  UNION ALL
         |  SELECT 'value_set_source', 'value_set', 'source', NULL, NULL,
         |         vals FROM sv)
         |SELECT rule_id, rule_type, "column", lo, hi, "values"
         |FROM rows ORDER BY rule_id""".stripMargin,

    // quarantine routing: every copy of an error-violating doc_id lands in
    // the quarantine bucket, everything else in clean
    "v_quarantine" ->
      s"""WITH $violationsCte,
         |bad AS (SELECT DISTINCT doc_id FROM v WHERE severity = 'error'),
         |f AS (SELECT t.source,
         |             CASE WHEN b.doc_id IS NULL THEN 'clean'
         |                  ELSE 'quarantine' END AS bucket
         |      FROM tok t LEFT JOIN bad b USING (doc_id))
         |SELECT bucket, source, count(*) AS n_rows FROM f
         |GROUP BY bucket, source ORDER BY bucket, source""".stripMargin,

    // the composed lifecycle, replayed closed-form: the len fix (carried by
    // BOTH routed sets, so effectively ungated) rewrites n_tok := size
    // first; the strict range clamp sees the FIXED value (never fires at
    // [1,1048576) on this fixture but is replayed for fidelity); the routed
    // rule pass then runs over the REPAIRED table (len_consistency
    // provably zero), and quarantine takes every copy of a doc_id holding
    // an error-severity violation (ref_source is the only error left)
    "v_pipeline" ->
      s"""WITH $cte,
         |rep AS (
         |  SELECT doc_id, key, source, okey, tokens_null, n_true,
         |         CASE WHEN NOT tokens_null AND n_tok <> n_true
         |              THEN n_true ELSE n_tok END AS n_tok1,
         |         (NOT tokens_null AND n_tok <> n_true) AS len_fired
         |  FROM tok),
         |rep2 AS (
         |  SELECT *,
         |    (source <> 'R' AND n_tok1 IS NOT NULL
         |       AND (n_tok1 < 1 OR n_tok1 >= 1048576)) AS rng_fired,
         |    CASE WHEN source <> 'R' AND n_tok1 IS NOT NULL AND n_tok1 < 1
         |           THEN 1
         |         WHEN source <> 'R' AND n_tok1 IS NOT NULL
         |           AND n_tok1 >= 1048576 THEN 1048575
         |         ELSE n_tok1 END AS n_tok2
         |  FROM rep),
         |v AS (
         |  SELECT doc_id, 'fatal' AS severity, source
         |  FROM rep2 WHERE tokens_null
         |  UNION ALL
         |  SELECT doc_id, 'error', source
         |  FROM rep2 WHERE NOT tokens_null AND n_tok2 <> n_true
         |  UNION ALL
         |  SELECT doc_id, 'warning', source
         |  FROM rep2 WHERE source <> 'R' AND NOT tokens_null AND key % 109 = 0
         |  UNION ALL
         |  SELECT doc_id, 'warning', source
         |  FROM rep2 WHERE source <> 'R' AND n_tok2 IS NOT NULL
         |    AND (n_tok2 < 1 OR n_tok2 >= 1048576)
         |  UNION ALL
         |  SELECT doc_id, 'error', source
         |  FROM rep2 WHERE source <> 'R' AND source NOT IN ('A','N','R')
         |  UNION ALL
         |  SELECT doc_id, 'warning', minsrc
         |  FROM (SELECT doc_id, count(*) AS cnt, min(source) AS minsrc
         |        FROM rep2 WHERE source <> 'R' GROUP BY doc_id)
         |  WHERE cnt > 1),
         |bad AS (SELECT DISTINCT doc_id FROM v WHERE severity = 'error'),
         |vc AS (SELECT source, count(*) AS nv FROM v GROUP BY source),
         |rc AS (SELECT r.source, count(*) AS n_rows,
         |         count(*) FILTER (WHERE len_fired OR rng_fired)
         |           AS n_repaired,
         |         count(*) FILTER (WHERE b.doc_id IS NOT NULL)
         |           AS n_quarantined
         |       FROM rep2 r LEFT JOIN bad b USING (doc_id)
         |       GROUP BY r.source)
         |SELECT rc.source, rc.n_rows, coalesce(vc.nv, 0) AS n_violations,
         |       coalesce(vc.nv, 0) = 0 AS pass,
         |       rc.n_repaired, rc.n_quarantined
         |FROM rc LEFT JOIN vc USING (source) ORDER BY source""".stripMargin,

    // sequential repair replay: the len fix applies first, the clamp sees
    // the FIXED n_tok; zero-count rules emit no row (explode semantics)
    "v_repair" ->
      s"""WITH $cte,
         |r1 AS (SELECT *,
         |         (NOT tokens_null AND n_tok <> n_true) AS f1,
         |         CASE WHEN NOT tokens_null AND n_tok <> n_true
         |              THEN n_true ELSE n_tok END AS n_tok1
         |       FROM tok),
         |r2 AS (SELECT *,
         |         (n_tok1 IS NOT NULL AND (n_tok1 < 1 OR n_tok1 >= 25))
         |           AS f2
         |       FROM r1),
         |a AS (
         |  SELECT 'cap_fix' AS rule_id,
         |         count(*) FILTER (WHERE f2) AS n_repaired FROM r2
         |  UNION ALL
         |  SELECT 'len_fix', count(*) FILTER (WHERE f1) FROM r2)
         |SELECT rule_id, n_repaired FROM a WHERE n_repaired > 0
         |ORDER BY rule_id""".stripMargin,

    // the documents table under the same rule semantics: char-length
    // consistency, n_chars band, language value-set membership
    "v_docs_validate" ->
      """WITH v AS (
        |  SELECT source, 'chars_match' AS rule_id FROM documents
        |  WHERE text IS NOT NULL AND length(text) <> n_chars
        |  UNION ALL
        |  SELECT source, 'chars_band' FROM documents
        |  WHERE n_chars IS NOT NULL AND (n_chars < 1 OR n_chars >= 500)
        |  UNION ALL
        |  SELECT source, 'lang_allowed' FROM documents
        |  WHERE lang IS NULL OR lang NOT IN ('de', 'en', 'es', 'fr'))
        |SELECT source, rule_id, count(*) AS cnt FROM v
        |GROUP BY source, rule_id ORDER BY source, rule_id""".stripMargin,

    // adjacent token pairs regenerated from the synthesis congruences
    // (j=0 substitution only affects the pair's FIRST element; j+1 >= 1)
    "v_token_bigrams" ->
      s"""WITH $cte,
         |ex AS (
         |  SELECT CASE WHEN j = 0 AND key % 109 = 0 THEN 50000 + key % 7
         |              ELSE (key*31 + j*17) % 50000 END AS t1,
         |         (key*31 + (j+1)*17) % 50000 AS t2
         |  FROM (SELECT *, unnest(generate_series(0,
         |                    CAST(n_true AS BIGINT) - 2)) AS j
         |        FROM tok WHERE NOT tokens_null AND n_true >= 2)),
         |c AS (SELECT CAST(t1 AS INT) AS t1, CAST(t2 AS INT) AS t2,
         |             count(*) AS cnt
         |      FROM ex GROUP BY 1, 2)
         |SELECT t1, t2, cnt, CAST(rank AS INT) AS rank FROM (
         |  SELECT t1, t2, cnt,
         |         row_number() OVER (ORDER BY cnt DESC, t1, t2) AS rank
         |  FROM c)
         |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // PMI as a difference of logs of exact-count ratios, ordered by the
    // ROUNDED pmi with (t1, t2) tie-break in both engines
    "v_token_pmi" ->
      s"""WITH $cte,
         |ex AS (
         |  SELECT CASE WHEN j = 0 AND key % 109 = 0 THEN 50000 + key % 7
         |              ELSE (key*31 + j*17) % 50000 END AS t1,
         |         (key*31 + (j+1)*17) % 50000 AS t2
         |  FROM (SELECT *, unnest(generate_series(0,
         |                    CAST(n_true AS BIGINT) - 2)) AS j
         |        FROM tok WHERE NOT tokens_null AND n_true >= 2)),
         |c AS (SELECT CAST(t1 AS INT) AS t1, CAST(t2 AS INT) AS t2,
         |             count(*) AS cnt
         |      FROM ex GROUP BY 1, 2),
         |uex AS (
         |  SELECT CASE WHEN j = 0 AND key % 109 = 0 THEN 50000 + key % 7
         |              ELSE (key*31 + j*17) % 50000 END AS token
         |  FROM (SELECT *, unnest(generate_series(0,
         |                    CAST(n_true AS BIGINT) - 1)) AS j
         |        FROM tok WHERE NOT tokens_null)),
         |u AS (SELECT CAST(token AS INT) AS token, count(*) AS uc
         |      FROM uex GROUP BY 1),
         |nb AS (SELECT CAST(sum(cnt) AS DOUBLE) AS nb FROM c),
         |nu AS (SELECT CAST(sum(uc) AS DOUBLE) AS nu FROM u)
         |SELECT t1, t2, cnt,
         |       round(ln(CAST(cnt AS DOUBLE) / nb.nb)
         |             - ln(CAST(u1.uc AS DOUBLE) / nu.nu)
         |             - ln(CAST(u2.uc AS DOUBLE) / nu.nu), 6) AS pmi
         |FROM c
         |JOIN u u1 ON c.t1 = u1.token
         |JOIN u u2 ON c.t2 = u2.token, nb, nu
         |WHERE cnt >= 5
         |ORDER BY pmi DESC, t1, t2 LIMIT 20""".stripMargin,

    // watermark-delay exceeds the table's span => no eviction => survivors
    // equal batch distinct (user, type) pairs per type
    "s_event_dedup_wm" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_unique_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // retention triangle: distinct (user, week) pairs, cohort = min week,
    // integer week offsets (week-aligned day diffs are multiples of 7)
    "e_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id AS k, date_trunc('week', ts) AS wk
        |  FROM events),
        |c AS (SELECT k, min(wk) AS cwk FROM uw GROUP BY k)
        |SELECT strftime(cwk, '%Y-%m-%d') AS cohort_week,
        |       CAST(datediff('day', cwk, wk) // 7 AS INT) AS week_offset,
        |       count(*) AS n_users
        |FROM uw JOIN c USING (k)
        |GROUP BY cwk, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // corpus unigram MLE log-probs, per-doc mean (round 6 masks
    // summation-order ulps; probabilities from exact integer counts)
    "d_lm_score" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(text, ' '),
        |           x -> x <> '')) AS w
        |  FROM documents),
        |f AS (SELECT w, count(*) AS c FROM w GROUP BY w),
        |t AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM f),
        |s AS (SELECT doc_id, ln(CAST(c AS DOUBLE) / tot) AS lp
        |      FROM w JOIN f USING (w) CROSS JOIN t)
        |SELECT doc_id, count(*) AS n_words,
        |       round(avg(lp), 6) AS avg_logprob
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // per-source Zipf slope: regr_slope(ln c, ln r) ==
    // covar_pop(ln r, ln c)/var_pop(ln r); identical rank tie-break
    "d_zipf_slope" ->
      """WITH w AS (
        |  SELECT source,
        |         unnest(list_filter(string_split(text, ' '),
        |           x -> x <> '')) AS w
        |  FROM documents),
        |f AS (SELECT source, w, count(*) AS c FROM w GROUP BY 1, 2),
        |r AS (SELECT source, c,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY c DESC, w ASC) AS r
        |      FROM f)
        |SELECT source, count(*) AS n_types,
        |       round(regr_slope(ln(CAST(c AS DOUBLE)),
        |                        ln(CAST(r AS DOUBLE))), 6) AS zipf_slope
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // int8 quantization replay: same per-dim global codebook, same
    // floor(+0.5) rounding (round() half-rule differs between engines),
    // same dequant arithmetic order
    "e_quantize_error" ->
      """WITH comp AS (
        |  SELECT vec_id, u.pos AS pos, u.v AS v FROM (
        |    SELECT vec_id,
        |           unnest(list_transform(range(1, len(embedding)+1),
        |             j -> struct_pack(pos := j-1,
        |                    v := CAST(embedding[j] AS DOUBLE)))) AS u
        |    FROM embeddings)),
        |cb AS (SELECT pos, min(v) AS lo, max(v) AS hi FROM comp
        |       GROUP BY pos),
        |q AS (SELECT vec_id, v, lo, hi,
        |             CASE WHEN hi = lo THEN 0
        |                  ELSE floor(255.0*(v-lo)/(hi-lo) + 0.5) - 128
        |             END AS q
        |      FROM comp JOIN cb USING (pos)),
        |d AS (SELECT vec_id, v,
        |             (q + 128) / 255.0 * (hi - lo) + lo AS deq FROM q),
        |m AS (SELECT vec_id,
        |             round(avg((v-deq)*(v-deq)) * 1e6, 6) AS mse
        |      FROM d GROUP BY vec_id)
        |SELECT label, count(*) AS n_vecs,
        |       round(avg(mse), 3) AS mean_mse_x1e6,
        |       round(max(mse), 3) AS max_mse_x1e6
        |FROM m JOIN embeddings USING (vec_id)
        |GROUP BY label ORDER BY label""".stripMargin,

    // first-3 exemplars per rule by the total order (doc_id, source,
    // detail); equal tuples make rank assignment among them irrelevant
    "r_rule_examples" ->
      s"""WITH $violationsCte,
         |r AS (SELECT rule_id,
         |             CAST(row_number() OVER (PARTITION BY rule_id
         |               ORDER BY doc_id, source, detail) AS INT) AS rnk,
         |             doc_id, source, detail
         |      FROM v)
         |SELECT rule_id, rnk, doc_id, source, detail FROM r WHERE rnk <= 3
         |ORDER BY rule_id, rnk""".stripMargin,

    // hourly volume z-score anomalies; both engines threshold the ROUNDED
    // z so stddev-algorithm ulps can't flip membership at the boundary
    "e_hourly_anomalies" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, avg(cnt) AS mean_cnt,
        |             stddev_pop(cnt) AS std_cnt
        |      FROM h GROUP BY 1),
        |z AS (SELECT h.event_type, h.hour, h.cnt,
        |             round((h.cnt - m.mean_cnt) / m.std_cnt, 6) AS z,
        |             m.std_cnt
        |      FROM h JOIN m USING (event_type))
        |SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
        |       cnt, z
        |FROM z WHERE std_cnt > 0 AND abs(z) >= 2.0
        |ORDER BY event_type, hour""".stripMargin,

    // duplicate doc_ids must carry one n_tok (functional dependency)
    "v_fd_check" ->
      s"""WITH $cte,
         |fd AS (SELECT doc_id, count(DISTINCT n_tok) AS nvals,
         |              min(source) AS source
         |       FROM tok GROUP BY doc_id)
         |SELECT doc_id, 'fd_doc_ntok' AS rule_id,
         |       'n_tok has ' || nvals ||
         |         ' distinct values for one doc_id' AS detail,
         |       'error' AS severity, source
         |FROM fd WHERE nvals > 1 ORDER BY doc_id""".stripMargin,

    // composite (source, okey) uniqueness: same aggregate keyed by the
    // tuple; doc_id renders the key '|'-joined (concat_ws in both engines)
    "v_unique_composite" ->
      s"""WITH $cte,
         |g AS (SELECT source, okey, count(*) AS cnt FROM tok
         |      GROUP BY source, okey HAVING count(*) > 1)
         |SELECT concat_ws('|', source, CAST(okey AS VARCHAR)) AS doc_id,
         |       'unique_src_okey' AS rule_id,
         |       '(source,okey) occurs ' || CAST(cnt AS VARCHAR) ||
         |         ' times' AS detail,
         |       'warning' AS severity, source
         |FROM g ORDER BY doc_id""".stripMargin,

    // with only source A changed between the snapshots, the incremental
    // runner's summary is exactly the full validation of the A slice
    "v_incremental_reval" ->
      s"""WITH $cte,
         |toka AS (SELECT * FROM tok WHERE source = 'A'),
         |${violationsOver("toka", "va")},
         |vc AS (SELECT source, count(*) AS nv FROM va GROUP BY source)
         |SELECT t.source, count(*) AS n_rows,
         |       coalesce(max(vc.nv), 0) AS n_violations,
         |       coalesce(max(vc.nv), 0) = 0 AS pass
         |FROM toka t LEFT JOIN vc ON t.source = vc.source
         |GROUP BY t.source ORDER BY t.source""".stripMargin,

    // final stateful emission per duplicated key == the batch dup row
    "s_stream_unique" ->
      s"""WITH $cte
         |SELECT doc_id, count(*) AS cnt, min(source) AS source
         |FROM tok GROUP BY doc_id HAVING count(*) > 1
         |ORDER BY doc_id""".stripMargin,

    // reloaded latest artifact == the directly assembled full report
    "r_report_persisted" ->
      s"""WITH $violationsCte
         |SELECT CASE WHEN rule_id IN ('len_consistency','token_bounds','not_null_tokens')
         |            THEN 'fdpg' ELSE 'general' END AS category,
         |       CASE severity WHEN 'fatal' THEN 0 WHEN 'error' THEN 1
         |            WHEN 'warning' THEN 2 ELSE 3 END AS severity_rank,
         |       CASE WHEN severity IN ('fatal','error') THEN 'red'
         |            WHEN severity = 'warning' THEN 'orange'
         |            ELSE 'gray' END AS color,
         |       severity, rule_id,
         |       regexp_replace(regexp_replace(detail, '\\[[0-9]+\\]', '[*]', 'g'),
         |                      '''[^'']*''', '''?''', 'g') AS detail_generic,
         |       count(*) AS cnt
         |FROM v GROUP BY 1, 2, 3, 4, 5, 6
         |ORDER BY category, severity_rank, rule_id, detail_generic""".stripMargin,

    // report assembled from persisted per-partition violation artifacts
    // after a two-leg resumed run == the fresh report over the row-local
    // rule set (uniqueness is per-validated-slice under resume, so it is
    // excluded from the pinned identity)
    "r_report_resumed" ->
      s"""WITH $violationsNoUniqueCte
         |SELECT CASE WHEN rule_id IN ('len_consistency','token_bounds','not_null_tokens')
         |            THEN 'fdpg' ELSE 'general' END AS category,
         |       CASE severity WHEN 'fatal' THEN 0 WHEN 'error' THEN 1
         |            WHEN 'warning' THEN 2 ELSE 3 END AS severity_rank,
         |       CASE WHEN severity IN ('fatal','error') THEN 'red'
         |            WHEN severity = 'warning' THEN 'orange'
         |            ELSE 'gray' END AS color,
         |       severity, rule_id,
         |       regexp_replace(regexp_replace(detail, '\\[[0-9]+\\]', '[*]', 'g'),
         |                      '''[^'']*''', '''?''', 'g') AS detail_generic,
         |       count(*) AS cnt
         |FROM v GROUP BY 1, 2, 3, 4, 5, 6
         |ORDER BY category, severity_rank, rule_id, detail_generic""".stripMargin,

    // word list shared by the document oracles (split on ' ', drop empties)
    "d_tokcount" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS INT) AS n_words,
        |       CAST(length(text) AS INT) AS n_chars,
        |       CAST(ceil(length(replace(text, ' ', '')) / 4.0) AS BIGINT) AS n_subword_est
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d_quality" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT) AS n_words,
        |         CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS INT) AS n_distinct_words
        |  FROM documents)
        |SELECT doc_id, n_words, n_distinct_words,
        |       CASE WHEN n_words > 0
        |            THEN CAST(n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE)
        |            ELSE 0.0 END AS ttr,
        |       least(1.0, CAST(n_words AS DOUBLE) / 100.0) AS len_score,
        |       least(1.0, CAST(n_words AS DOUBLE) / 100.0) *
        |         (CASE WHEN n_words > 0
        |               THEN CAST(n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE)
        |               ELSE 0.0 END) AS quality
        |FROM w ORDER BY doc_id""".stripMargin,

    "d_langid_accuracy" ->
      """WITH p AS (
        |  SELECT lang,
        |    CASE
        |      WHEN (CAST(contains(t, ' the ') AS INT) + CAST(contains(t, ' a ') AS INT) + CAST(contains(t, ' is ') AS INT)) >=
        |           (CAST(contains(t, ' der ') AS INT) + CAST(contains(t, ' und ') AS INT) + CAST(contains(t, ' ist ') AS INT))
        |       AND (CAST(contains(t, ' the ') AS INT) + CAST(contains(t, ' a ') AS INT) + CAST(contains(t, ' is ') AS INT)) >=
        |           (CAST(contains(t, ' le ') AS INT) + CAST(contains(t, ' et ') AS INT) + CAST(contains(t, ' est ') AS INT))
        |       AND (CAST(contains(t, ' the ') AS INT) + CAST(contains(t, ' a ') AS INT) + CAST(contains(t, ' is ') AS INT)) > 0
        |      THEN 'en'
        |      WHEN (CAST(contains(t, ' der ') AS INT) + CAST(contains(t, ' und ') AS INT) + CAST(contains(t, ' ist ') AS INT)) >=
        |           (CAST(contains(t, ' le ') AS INT) + CAST(contains(t, ' et ') AS INT) + CAST(contains(t, ' est ') AS INT))
        |       AND (CAST(contains(t, ' der ') AS INT) + CAST(contains(t, ' und ') AS INT) + CAST(contains(t, ' ist ') AS INT)) > 0
        |      THEN 'de'
        |      WHEN (CAST(contains(t, ' le ') AS INT) + CAST(contains(t, ' et ') AS INT) + CAST(contains(t, ' est ') AS INT)) > 0
        |      THEN 'fr'
        |      ELSE 'unknown' END AS predicted
        |  FROM (SELECT lang, ' ' || text || ' ' AS t FROM documents))
        |SELECT lang, predicted, count(*) AS n FROM p
        |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,

    // full replica of the trigram-profile scorer, profile VALUES generated
    // from the SAME TextOps.LangProfiles constant the engine scores with
    "d_langid_ngram" -> {
      val vals = graft.operators.TextOps.LangProfiles.map {
        case (t, l, w) => s"('${t.replace("'", "''")}', '$l', $w)"
      }.mkString(", ")
      s"""WITH prof(tri, plang, w) AS (VALUES $vals),
         |tris AS (
         |  SELECT doc_id, unnest(CASE WHEN length(lower(text)) >= 3
         |    THEN list_transform(range(1, length(lower(text)) - 1),
         |           i -> substring(lower(text), i, 3))
         |    ELSE [lower(text)] END) AS tri
         |  FROM documents),
         |scored AS (
         |  SELECT doc_id, plang, sum(w) AS score
         |  FROM tris JOIN prof USING (tri) GROUP BY doc_id, plang),
         |best AS (
         |  SELECT doc_id, plang AS best FROM (
         |    SELECT doc_id, plang,
         |           row_number() OVER (PARTITION BY doc_id
         |             ORDER BY score DESC, plang) AS rn
         |    FROM scored) WHERE rn = 1),
         |pred AS (
         |  SELECT d.lang,
         |         CASE WHEN regexp_matches(d.text, '[\\x{4e00}-\\x{9fff}]')
         |              THEN 'zh' ELSE coalesce(b.best, 'unknown') END AS predicted
         |  FROM documents d LEFT JOIN best b USING (doc_id))
         |SELECT lang, predicted, count(*) AS n FROM pred
         |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
    },

    "d_bpeish_tokcount" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS INT) AS n_bpeish,
        |  CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))) AS INT) AS n_bpeish_distinct
        |FROM documents ORDER BY doc_id""".stripMargin,

    // full winnowing replication: word-3-gram md5-derived hashes, min of
    // every 4-window, distinct selected hashes, hot-bucket cap (QUALIFY
    // count <= 1000 per fingerprint — the engine's capBuckets guard,
    // replicated so a bucket overflow at larger scale cannot diverge
    // engine and oracle), pairs sharing >= 5
    "d_winnow_dups" ->
      s"""WITH $shingleCte,
         |hs AS (SELECT doc_id, list_transform(sh, g ->
         |         CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT)) AS hs
         |       FROM (SELECT doc_id, CASE WHEN len(ws) >= 3
         |               THEN list_transform(range(1, len(ws)-1),
         |                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
         |               ELSE [coalesce(array_to_string(ws,' '), '')] END AS sh
         |             FROM w)),
         |wins AS (SELECT doc_id,
         |  CASE WHEN len(hs) >= 4
         |    THEN list_transform(range(1, len(hs)-2), i -> list_min(hs[i:i+3]))
         |    ELSE [list_min(hs)] END AS wmins
         |  FROM hs),
         |fps0 AS (SELECT DISTINCT doc_id, unnest(wmins) AS fp FROM wins),
         |fps AS (SELECT * FROM fps0
         |        QUALIFY count(*) OVER (PARTITION BY fp) <= 1000)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       count(*) AS n_shared
         |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "d_fingerprint_dups" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_sort(list_distinct(
        |           list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS fp
        |  FROM documents),
        |g AS (SELECT fp, count(*) AS group_size, min(doc_id) AS keeper
        |      FROM fp GROUP BY fp HAVING count(*) > 1)
        |SELECT f.doc_id, f.fp, g.group_size, g.keeper,
        |       f.doc_id = g.keeper AS keep
        |FROM fp f JOIN g USING (fp) ORDER BY f.doc_id""".stripMargin,

    "d_ngram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(ws) >= 3
        |    THEN list_distinct(list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
        |    ELSE [coalesce(array_to_string(ws,' '), '')] END AS sh
        |  FROM w)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |         len(list_distinct(a.sh || b.sh)) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,

    "e_knn_brute" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id FROM (
        |  SELECT vec_id,
        |         list_dot_product(CAST(embedding AS DOUBLE[]), (SELECT qe FROM q)) /
        |         (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
        |          sqrt(list_dot_product((SELECT qe FROM q), (SELECT qe FROM q)))) AS cos
        |  FROM embeddings ORDER BY cos DESC, vec_id LIMIT 10)
        |ORDER BY vec_id""".stripMargin,

    // IVF replicated in closed form: deterministic centroids (8 lowest
    // vec_ids), argmax-cosine assignment, top-2 probed lists, exact top-10
    "e_ann_ivf_idx" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |             FROM embeddings),
         |cent AS (SELECT vec_id AS centroid_id, e AS ce FROM emb
         |         ORDER BY vec_id LIMIT 8),
         |q AS (SELECT e AS qe FROM emb WHERE vec_id = 0),
         |assign AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT emb.vec_id, cent.centroid_id,
         |           row_number() OVER (PARTITION BY emb.vec_id
         |             ORDER BY ${duckCos("emb.e", "cent.ce")} DESC, cent.centroid_id) AS rn
         |    FROM emb CROSS JOIN cent) WHERE rn = 1),
         |probed AS (
         |  SELECT centroid_id FROM cent
         |  ORDER BY ${duckCos("ce", "(SELECT qe FROM q)")} DESC, centroid_id
         |  LIMIT 2)
         |SELECT vec_id, round(cos, 6) AS cos FROM (
         |  SELECT emb.vec_id, ${duckCos("emb.e", "(SELECT qe FROM q)")} AS cos
         |  FROM emb JOIN assign USING (vec_id) JOIN probed USING (centroid_id)
         |  ORDER BY cos DESC, vec_id LIMIT 10)
         |ORDER BY vec_id""".stripMargin,

    // quantized IVF: exact seed/assignment/probe-selection as e_ann_ivf_idx,
    // then per-dim global codebook, floor(+0.5) int8 codes, dequantized
    // cosine within the probed lists — the full on-disk arithmetic replayed
    "e_ann_ivf_q" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |             FROM embeddings),
         |cent AS (SELECT vec_id AS centroid_id, e AS ce FROM emb
         |         ORDER BY vec_id LIMIT 8),
         |q AS (SELECT e AS qe FROM emb WHERE vec_id = 0),
         |assign AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT emb.vec_id, cent.centroid_id,
         |           row_number() OVER (PARTITION BY emb.vec_id
         |             ORDER BY ${duckCos("emb.e", "cent.ce")} DESC, cent.centroid_id) AS rn
         |    FROM emb CROSS JOIN cent) WHERE rn = 1),
         |probed AS (
         |  SELECT centroid_id FROM cent
         |  ORDER BY ${duckCos("ce", "(SELECT qe FROM q)")} DESC, centroid_id
         |  LIMIT 2),
         |comp AS (
         |  SELECT vec_id, u.pos AS pos, u.v AS v FROM (
         |    SELECT vec_id,
         |           unnest(list_transform(range(1, len(e)+1),
         |             j -> struct_pack(pos := j-1, v := e[j]))) AS u
         |    FROM emb)),
         |cb AS (SELECT pos, min(v) AS lo, max(v) AS hi FROM comp
         |       GROUP BY pos),
         |dq AS (
         |  SELECT vec_id,
         |         list(CASE WHEN hi = lo THEN lo
         |              ELSE floor(255.0*(v-lo)/(hi-lo) + 0.5)
         |                   / 255.0 * (hi-lo) + lo END
         |              ORDER BY pos) AS d
         |  FROM comp JOIN cb USING (pos) GROUP BY vec_id)
         |SELECT vec_id, round(cos, 6) AS cos FROM (
         |  SELECT dq.vec_id, ${duckCos("dq.d", "(SELECT qe FROM q)")} AS cos
         |  FROM dq JOIN assign USING (vec_id) JOIN probed USING (centroid_id)
         |  ORDER BY cos DESC, vec_id LIMIT 10)
         |ORDER BY vec_id""".stripMargin,

    // full closed-form replica of ONE Lloyd iteration: seed centroids →
    // argmax assignment → per-position means (empty cluster keeps its seed)
    // → re-assignment → top-2 probe → exact top-10 within probed lists
    "e_ann_ivf_kmeans" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |             FROM embeddings),
         |cent0 AS (SELECT vec_id AS centroid_id, e AS ce FROM emb
         |          ORDER BY vec_id LIMIT 8),
         |q AS (SELECT e AS qe FROM emb WHERE vec_id = 0),
         |assign0 AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT emb.vec_id, cent0.centroid_id,
         |           row_number() OVER (PARTITION BY emb.vec_id
         |             ORDER BY ${duckCos("emb.e", "cent0.ce")} DESC, cent0.centroid_id) AS rn
         |    FROM emb CROSS JOIN cent0) WHERE rn = 1),
         |means AS (
         |  SELECT centroid_id, u.j, avg(e[u.j]) AS m
         |  FROM assign0 JOIN emb USING (vec_id),
         |       unnest(range(1, len(e)+1)) AS u(j)
         |  GROUP BY centroid_id, u.j),
         |cent1 AS (SELECT centroid_id, list(m ORDER BY j) AS ce
         |          FROM means GROUP BY centroid_id),
         |cent AS (SELECT c0.centroid_id, coalesce(c1.ce, c0.ce) AS ce
         |         FROM cent0 c0 LEFT JOIN cent1 c1 USING (centroid_id)),
         |assign AS (
         |  SELECT vec_id, centroid_id FROM (
         |    SELECT emb.vec_id, cent.centroid_id,
         |           row_number() OVER (PARTITION BY emb.vec_id
         |             ORDER BY ${duckCos("emb.e", "cent.ce")} DESC, cent.centroid_id) AS rn
         |    FROM emb CROSS JOIN cent) WHERE rn = 1),
         |probed AS (
         |  SELECT centroid_id FROM cent
         |  ORDER BY ${duckCos("ce", "(SELECT qe FROM q)")} DESC, centroid_id
         |  LIMIT 2)
         |SELECT vec_id, round(cos, 6) AS cos FROM (
         |  SELECT emb.vec_id, ${duckCos("emb.e", "(SELECT qe FROM q)")} AS cos
         |  FROM emb JOIN assign USING (vec_id) JOIN probed USING (centroid_id)
         |  ORDER BY cos DESC, vec_id LIMIT 10)
         |ORDER BY vec_id""".stripMargin,

    // the banded probe provably recalls the cos≥0.995 injected copies, so
    // the index result IS the exact top-3 over the augmented table
    "e_ann_lsh_idx" ->
      s"""WITH $augCte,
         |q AS (SELECT embedding AS qe FROM aug WHERE vec_id = 0)
         |SELECT vec_id, round(cos, 6) AS cos FROM (
         |  SELECT vec_id, ${duckCos("embedding", "(SELECT qe FROM q)")} AS cos
         |  FROM aug ORDER BY cos DESC, vec_id LIMIT 3)
         |ORDER BY vec_id""".stripMargin,

    "e_near_dup" ->
      s"""WITH $augCte
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       round(${duckCos("a.embedding", "b.embedding")}, 6) AS cos
         |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
         |WHERE ${duckCos("a.embedding", "b.embedding")} >= 0.99
         |ORDER BY vec_a, vec_b""".stripMargin,

    "e_near_dup_recall" ->
      s"""WITH $augCte
         |SELECT count(*) AS n_exact_pairs, TRUE AS recall_ok
         |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
         |WHERE a.vec_id % 100000 < 500 AND b.vec_id % 100000 < 500
         |  AND ${duckCos("a.embedding", "b.embedding")} >= 0.99""".stripMargin,

    // MinHash LSH candidates are exact-Jaccard verified and (at this corpus
    // and banding) recall every exact pair — the full exact pair set is the
    // oracle; d_minhash_recall pins the recall bound explicitly
    "d_minhash_dups" ->
      s"""WITH $shingleCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |         len(list_distinct(a.sh || b.sh)) AS jaccard
         |FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,

    "d_minhash_recall" ->
      s"""WITH $shingleCte
         |SELECT count(*) AS n_exact_pairs, TRUE AS recall_ok
         |FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
         |WHERE a.doc_id < 500 AND b.doc_id < 500
         |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)) >= 0.5""".stripMargin,

    // connected components over the exact near-dup pairs: recursive
    // reachability closure, cluster id = component min (labels propagate
    // along symmetric edges until the UNION-dedup'd fixpoint)
    "d_dup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sh3 a JOIN sh3 b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |        len(list_distinct(a.sh || b.sh)) >= 0.5),
         |e AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
         |reach AS (
         |  SELECT a AS node, a AS label FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT e2.b AS node, r.label FROM reach r JOIN e e2 ON e2.a = r.node
         |)
         |SELECT node AS doc_id, min(label) AS cluster_id,
         |       node = min(label) AS keep
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

    // greedy contiguous packing: identical window (same total order, same
    // frame), floor(before/budget) in double on both engines
    "v_seq_packing" ->
      s"""WITH $cte,
         |c AS (
         |  SELECT source, doc_id, n_tok,
         |         COALESCE(SUM(n_tok) OVER (
         |           PARTITION BY source ORDER BY doc_id, okey, n_tok
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS before
         |  FROM tok)
         |SELECT source, CAST(floor(before / 4096.0) AS BIGINT) AS pack_id,
         |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens
         |FROM c GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin,

    // two-level packing == flat greedy under the (bucket, doc) order: the
    // oracle computes the md5 bucket (same 8-hex-chars-to-int derivation
    // as d_split_assign, over doc_id || ':' || okey) and runs ONE flat
    // window ordered by (bucket, doc_id, okey, n_tok)
    "v_seq_packing2" ->
      s"""WITH $cte,
         |b AS (
         |  SELECT source, doc_id, n_tok, okey,
         |         CAST(concat('0x', substring(
         |           md5(doc_id || ':' || CAST(okey AS VARCHAR)), 1, 8))
         |           AS BIGINT) % 8 AS bucket
         |  FROM tok),
         |c AS (
         |  SELECT source, doc_id, n_tok,
         |         COALESCE(SUM(n_tok) OVER (
         |           PARTITION BY source
         |           ORDER BY bucket, doc_id, okey, n_tok
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS before
         |  FROM b)
         |SELECT source, CAST(floor(before / 4096.0) AS BIGINT) AS pack_id,
         |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens
         |FROM c GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin,

    // duplicate word / 2-gram fractions, gram construction replicated
    // (including the <2-word whole-text fallback gram)
    "d_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, ws,
        |         CASE WHEN len(ws) >= 2
        |              THEN list_transform(range(1, len(ws)),
        |                     i -> ws[i] || ' ' || ws[i+1])
        |              ELSE [coalesce(array_to_string(ws, ' '), '')] END AS g2
        |  FROM w)
        |SELECT doc_id, CAST(len(ws) AS INT) AS n_words,
        |  round(CASE WHEN len(ws) > 0
        |    THEN 1 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
        |    ELSE 0.0 END, 6) AS dup_word_frac,
        |  round(CASE WHEN len(g2) > 0
        |    THEN 1 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
        |    ELSE 0.0 END, 6) AS dup_2gram_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    // same integer arithmetic + single double divisions; thresholds cast to
    // DOUBLE (a bare DuckDB decimal literal would compare in decimal)
    "d_quality_filter" ->
      """WITH b AS (
        |  SELECT doc_id, length(text) AS chars,
        |         length(text) - length(replace(text, ' ', '')) AS spaces,
        |         len(list_filter(string_split(text,' '), x -> x <> '')) AS nw,
        |         length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS punct
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, nw,
        |         CASE WHEN nw > 0 THEN CAST(chars - spaces AS DOUBLE) / nw
        |              ELSE 0.0 END AS mean_len,
        |         CASE WHEN chars > 0 THEN CAST(punct AS DOUBLE) / chars
        |              ELSE 0.0 END AS pr
        |  FROM b),
        |r AS (
        |  SELECT doc_id, nw, mean_len, pr,
        |         CASE WHEN nw < 10 THEN 'too_short'
        |              WHEN nw > 100000 THEN 'too_long'
        |              WHEN mean_len < CAST(3.0 AS DOUBLE) THEN 'short_words'
        |              WHEN mean_len > CAST(12.0 AS DOUBLE) THEN 'long_words'
        |              WHEN pr > CAST(0.30 AS DOUBLE) THEN 'high_punct'
        |              ELSE 'ok' END AS reason
        |  FROM m)
        |SELECT doc_id, CAST(nw AS INT) AS n_words,
        |       round(mean_len, 6) AS mean_word_len,
        |       round(pr, 6) AS punct_ratio,
        |       reason, reason = 'ok' AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    // md5-derived bucket is engine-independent: first 8 hex chars as an
    // integer mod 100 (Spark computes conv(substring(md5(...),1,8),16,10))
    "d_split_assign" ->
      """SELECT doc_id, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'valid'
        |            ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |           AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // full SimHash replication INCLUDING the engine's candidate topology:
    // md5-derived 60-bit word hash, per-bit ±1 sums, 4 chunk-key buckets
    // with the hot-bucket cap (QUALIFY count <= 1000 — same guard as
    // DedupOps.capBuckets), pairs from shared buckets, Hamming via
    // bit_count(xor). Bucketing is pigeonhole-exact for Hamming <= 3, and
    // the cap is replicated so engine and oracle stay equal even if a
    // bucket ever overflows at a larger scale factor.
    "d_simhash_md5_dups" -> simhashOracle(maxHamming = 3),

    // tight-radius variant (Hamming <= 2) — the registry face of the
    // production simHashDuplicates path; same SQL, tighter verify
    "d_simhash_dups" -> simhashOracle(maxHamming = 2),

    // ground truth = identical word sets (equal canonical fingerprints);
    // equal sets ⇒ equal simhashes ⇒ Hamming 0 ⇒ recall pinned at 1.0
    "d_simhash_recall" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_sort(list_distinct(
        |           list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS fp
        |  FROM documents)
        |SELECT count(*) AS n_exact_pairs, TRUE AS recall_ok
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id""".stripMargin,

    "v_drift_sketch_bound" ->
      s"""WITH $cte,
         |cur AS (SELECT source,
         |               quantile_cont(n_tok, 0.5) AS q0,
         |               quantile_cont(n_tok, 0.95) AS q1
         |        FROM tok GROUP BY source),
         |base AS (SELECT source,
         |               quantile_cont(n_tok, 0.5) AS q0,
         |               quantile_cont(n_tok, 0.95) AS q1
         |        FROM tok WHERE okey % 2 = 0 GROUP BY source)
         |SELECT cur.source,
         |       abs(cur.q0 - base.q0) AS delta_q0,
         |       abs(cur.q1 - base.q1) AS delta_q1,
         |       TRUE AS sketch_within_bound
         |FROM cur JOIN base USING (source)
         |ORDER BY source""".stripMargin,

    "d_quality_ratios" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |  round(CASE WHEN length(text) > 0
        |    THEN CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |         / length(text) ELSE 0.0 END, 6) AS punct_ratio,
        |  round(CASE WHEN length(text) > 0
        |    THEN CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |         / length(text) ELSE 0.0 END, 6) AS space_ratio,
        |  round(CASE WHEN len(list_filter(string_split(text, ' '), w -> w <> '')) > 0
        |    THEN CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|for|on)\b')) AS DOUBLE)
        |         / len(list_filter(string_split(text, ' '), w -> w <> ''))
        |    ELSE 0.0 END, 6) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    // exact replica of the nearest-neighbor stub-resize byte sampling: the
    // fixture payload is the ascii text, so code points == byte values
    "m_media_resize" ->
      """WITH g AS (
        |  SELECT doc_id, text, length(text) AS n,
        |         16 + length(text) % 64 AS w,
        |         16 + (length(text) // 64) % 64 AS h
        |  FROM documents)
        |SELECT doc_id, 8 AS out_w, 8 AS out_h,
        |  CAST(list_sum(list_transform(range(64), k ->
        |    CASE WHEN ((k // 8) * h // 8) * w + ((k % 8) * w // 8) < n
        |         THEN ascii(substring(text,
        |                CAST(((k // 8) * h // 8) * w + ((k % 8) * w // 8) AS INT) + 1, 1))
        |         ELSE 0 END)) AS BIGINT) AS pix_sum
        |FROM g ORDER BY doc_id""".stripMargin,

    "m_media_features" ->
      """SELECT doc_id,
        |       CAST(length(text) AS INT) AS n_bytes,
        |       CAST(16 + length(text) % 64 AS INT) AS width,
        |       CAST(16 + (length(text) // 64) % 64 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d_tfidf_topk" ->
      """WITH dw AS (
        |  SELECT doc_id, source,
        |         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
        |  FROM documents),
        |tf AS (SELECT source, word, count(*) AS tf FROM dw GROUP BY source, word),
        |df AS (SELECT word, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, word FROM dw) GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT source, word, tf, df,
        |         round(CAST(tf AS DOUBLE) *
        |               ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
        |  FROM tf JOIN df USING (word) CROSS JOIN n),
        |ranked AS (
        |  SELECT source, word, tf, df, tfidf,
        |         CAST(row_number() OVER (
        |           PARTITION BY source ORDER BY tfidf DESC, word ASC) AS INT)
        |           AS rank
        |  FROM scored)
        |SELECT source, rank, word, tf, df, tfidf
        |FROM ranked WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    "d_entropy" ->
      """WITH dw AS (
        |  SELECT doc_id,
        |         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_words,
        |         unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS word
        |  FROM documents),
        |c AS (SELECT doc_id, n_words, word, count(*) AS cnt
        |      FROM dw GROUP BY doc_id, n_words, word)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words,
        |       count(*) AS n_distinct_words,
        |       round(-sum((CAST(cnt AS DOUBLE) / n_words)
        |                  * log2(CAST(cnt AS DOUBLE) / n_words)) + 0.0, 6)
        |         AS word_entropy
        |FROM c GROUP BY doc_id, n_words ORDER BY doc_id""".stripMargin,

    "d_source_overlap" ->
      """WITH fp AS (
        |  SELECT DISTINCT source,
        |         md5(array_to_string(list_sort(list_distinct(
        |           list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS fp
        |  FROM documents)
        |SELECT a.source AS source_a, b.source AS source_b,
        |       count(*) AS shared_fingerprints
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY a.source, b.source ORDER BY source_a, source_b""".stripMargin,

    "e_funnel" ->
      """WITH t0 AS (SELECT user_id, min(ts) AS t0 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |t1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
        |       JOIN t0 ON e.user_id = t0.user_id AND e.ts > t0.t0
        |                  AND e.ts <= t0.t0 + INTERVAL 24 HOUR
        |       WHERE e.event_type = 'click' GROUP BY e.user_id),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t1
        |                  AND e.ts <= t1.t1 + INTERVAL 24 HOUR
        |       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT 1 AS step_idx, 'view' AS step, count(*) AS n_keys FROM t0
        |UNION ALL
        |SELECT 2, 'click', count(*) FROM t1
        |UNION ALL
        |SELECT 3, 'purchase', count(*) FROM t2
        |ORDER BY step_idx""".stripMargin,

    "e_props_extract" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |         AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "e_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |         lead(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, count(*) AS n
        |FROM s WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type
        |ORDER BY n DESC, event_type, next_type""".stripMargin,

    "e_interarrival" ->
      """WITH s AS (
        |  SELECT event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |       CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
        |       CAST(max(gap_us) AS BIGINT) AS max_gap_us
        |FROM s WHERE gap_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // context windows at (32, stride 24): window set = starts 0,24,48,…
    // while start < n; token values replayed from the congruence generator
    // per position. NO grouping: the synthetic lineitem holds genuine
    // duplicate (orderkey, linenumber) rows, so there is no unique row key
    // to group on — each window's stats come from a per-row list instead,
    // preserving row multiplicity exactly as Spark's per-row derivation does
    "v_chunk_windows" ->
      s"""WITH $cte,
         |w AS (SELECT doc_id, source, key, n_true,
         |             unnest(generate_series(0, (n_true-1) // 24)) AS win_idx
         |      FROM tok WHERE NOT tokens_null),
         |t AS (SELECT doc_id, source, win_idx,
         |             list_transform(
         |               range(win_idx*24, least(win_idx*24 + 32,
         |                 CAST(n_true AS BIGINT))),
         |               p -> CASE WHEN p = 0 AND key % 109 = 0
         |                         THEN 50000 + key % 7
         |                         ELSE (key*31 + p*17) % 50000 END) AS toks
         |      FROM w)
         |SELECT doc_id, source, CAST(win_idx AS INT) AS win_idx,
         |       CAST(len(toks) AS INT) AS win_len,
         |       CAST(list_sum(toks) AS BIGINT) AS win_sum,
         |       CAST(toks[1] AS INT) AS f_tok,
         |       CAST(toks[-1] AS INT) AS l_tok
         |FROM t ORDER BY doc_id, win_idx""".stripMargin,

    // expectation suite: severity-derived tolerances (fatal 0.0,
    // error 0.005, warning 0.1) against per-rule violation rates;
    // zero-violation rules (not_null_source, n_tok_range) report PASS rows
    "v_expect_suite" ->
      s"""WITH $violationsCte,
         |nr AS (SELECT count(*) AS n FROM tok),
         |exp(rule_id, max_rate) AS (VALUES
         |  ('not_null_tokens', 0.0), ('not_null_source', 0.0),
         |  ('len_consistency', 0.005), ('token_bounds', 0.1),
         |  ('n_tok_range', 0.1), ('ref_source', 0.005),
         |  ('unique_doc_id', 0.1)),
         |c AS (SELECT rule_id, count(*) AS nv FROM v GROUP BY rule_id)
         |SELECT e.rule_id,
         |       CAST(coalesce(c.nv, 0) AS BIGINT) AS n_violations,
         |       CAST(nr.n AS BIGINT) AS n_rows,
         |       round(CAST(coalesce(c.nv, 0) AS DOUBLE) /
         |             CAST(nr.n AS DOUBLE), 6) AS violation_rate,
         |       CAST(e.max_rate AS DOUBLE) AS max_rate,
         |       CASE WHEN CAST(coalesce(c.nv, 0) AS DOUBLE) /
         |                 CAST(nr.n AS DOUBLE) <= CAST(e.max_rate AS DOUBLE)
         |            THEN 'PASS' ELSE 'FAIL' END AS status
         |FROM exp e LEFT JOIN c USING (rule_id) CROSS JOIN nr
         |ORDER BY e.rule_id""".stripMargin,

    // metrics-table trend for run 2 (full) over run 1 (even-okey
    // baseline): per-rule counts of both runs zero-filled from the rule
    // list; regressed = violation RATE strictly worsened
    "v_run_history" ->
      s"""WITH $cte,
         |tokb AS (SELECT * FROM tok WHERE okey % 2 = 0),
         |${violationsOver("tok", "vc")},
         |${violationsOver("tokb", "vb")},
         |rules(rule_id) AS (VALUES
         |  ('not_null_tokens'), ('not_null_source'), ('len_consistency'),
         |  ('token_bounds'), ('n_tok_range'), ('ref_source'),
         |  ('unique_doc_id')),
         |c2 AS (SELECT rule_id, count(*) AS nv FROM vc GROUP BY rule_id),
         |c1 AS (SELECT rule_id, count(*) AS nv FROM vb GROUP BY rule_id),
         |n2 AS (SELECT count(*) AS n FROM tok),
         |n1 AS (SELECT count(*) AS n FROM tokb)
         |SELECT CAST(2 AS BIGINT) AS run_id, r.rule_id,
         |       CAST(coalesce(c2.nv, 0) AS BIGINT) AS n_violations,
         |       CAST(coalesce(c1.nv, 0) AS BIGINT) AS prev_violations,
         |       CAST(coalesce(c2.nv, 0) - coalesce(c1.nv, 0) AS BIGINT)
         |         AS delta,
         |       CAST(coalesce(c2.nv, 0) AS DOUBLE) / CAST(n2.n AS DOUBLE) >
         |       CAST(coalesce(c1.nv, 0) AS DOUBLE) / CAST(n1.n AS DOUBLE)
         |         AS regressed
         |FROM rules r LEFT JOIN c2 USING (rule_id) LEFT JOIN c1 USING (rule_id)
         |CROSS JOIN n2 CROSS JOIN n1
         |ORDER BY r.rule_id""".stripMargin,

    // the HLL estimate itself is engine-specific; the pinned contract is
    // the exact cardinality and that the estimate verdict is in-bound
    "v_approx_unique" ->
      s"""WITH $cte
         |SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_exact,
         |       true AS within_bound
         |FROM tok""".stripMargin,

    // LM buckets on the ROUNDED avg_logprob (the value d_lm_score already
    // hash-matches), fixed cutoffs -3.55 / -3.41 / -3.40
    "d_lm_buckets" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(text, ' '),
        |           x -> x <> '')) AS w
        |  FROM documents),
        |f AS (SELECT w, count(*) AS c FROM w GROUP BY w),
        |t AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM f),
        |s AS (SELECT doc_id, ln(CAST(c AS DOUBLE) / tot) AS lp
        |      FROM w JOIN f USING (w) CROSS JOIN t),
        |d AS (SELECT doc_id, count(*) AS n_words,
        |             round(avg(lp), 6) AS alp
        |      FROM s GROUP BY doc_id),
        |b AS (SELECT CASE WHEN alp < -3.55 THEN 'tail'
        |                  WHEN alp < -3.41 THEN 'low'
        |                  WHEN alp < -3.40 THEN 'mid'
        |                  ELSE 'head' END AS bucket,
        |             alp, n_words
        |      FROM d)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |       round(min(alp), 6) AS min_lp,
        |       round(max(alp), 6) AS max_lp,
        |       round(avg(CAST(n_words AS DOUBLE)), 6) AS avg_words
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // temperature-scaled mixing weights at alpha 0.5 over per-source
    // word totals
    "d_mix_weights" ->
      """WITH w AS (
        |  SELECT source,
        |         len(list_filter(string_split(text, ' '),
        |           x -> x <> '')) AS n_words
        |  FROM documents),
        |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(n_words) AS BIGINT) AS n_words
        |      FROM w GROUP BY source),
        |t AS (SELECT source, n_docs, n_words,
        |             CAST(n_words AS DOUBLE) /
        |               sum(CAST(n_words AS DOUBLE)) OVER () AS share
        |      FROM s)
        |SELECT source, n_docs, n_words, round(share, 6) AS share,
        |       round(pow(share, 0.5) /
        |             sum(pow(share, 0.5)) OVER (), 6) AS weight
        |FROM t ORDER BY source""".stripMargin,

    // PII scrub over deterministically augmented text (same concat both
    // engines); DuckDB regexp_replace needs the 'g' flag to match Spark's
    // replace-all semantics
    "d_pii_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id, source,
        |         text || ' reach ' || CAST(doc_id AS VARCHAR) || '@mail' ||
        |         CAST(doc_id % 7 AS VARCHAR) || '.com via 10.' ||
        |         CAST(doc_id % 200 AS VARCHAR) || '.' ||
        |         CAST(n_chars % 250 AS VARCHAR) || '.' ||
        |         CAST((doc_id*31) % 254 AS VARCHAR) ||
        |         CASE WHEN doc_id % 3 = 0
        |              THEN ' call +1-555-' ||
        |                   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |              ELSE '' END AS t2
        |  FROM documents),
        |p AS (
        |  SELECT source,
        |    CAST(len(regexp_extract_all(t2,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |      AS n_emails,
        |    CAST(len(regexp_extract_all(t2,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |    CAST(len(regexp_extract_all(t2,
        |      '\+\d{1,2}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |    CAST(length(t2) - length(
        |      regexp_replace(regexp_replace(regexp_replace(t2,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |        '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g')) AS BIGINT)
        |      AS chars_delta
        |  FROM aug)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_emails) AS BIGINT) AS n_emails,
        |       CAST(sum(n_ips) AS BIGINT) AS n_ips,
        |       CAST(sum(n_phones) AS BIGINT) AS n_phones,
        |       CAST(sum(chars_delta) AS BIGINT) AS chars_redacted
        |FROM p GROUP BY source ORDER BY source""".stripMargin,

    // token-budget cap at 100k/source: md5(doc_id) order, default RANGE
    // frame on both engines (id-tied rows share one cumulative value and
    // are kept or dropped together)
    "v_token_budget" ->
      s"""WITH $cte,
         |c AS (SELECT source, doc_id, n_tok,
         |             sum(n_tok) OVER (PARTITION BY source
         |               ORDER BY md5(doc_id), doc_id) AS cum
         |      FROM tok)
         |SELECT source,
         |       CAST(sum(CASE WHEN cum <= 100000 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN cum <= 100000 THEN n_tok ELSE 0 END)
         |         AS BIGINT) AS tok_kept,
         |       CAST(sum(CASE WHEN cum > 100000 THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_dropped
         |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // composed curation funnel over the doc_id>=25 corpus (eval = <25):
    // per-doc flags replayed from the fingerprint / md5-60 SimHash /
    // 3-shingle-overlap / quality oracles, intersected in stage order
    "d_corpus_funnel" ->
      """WITH base AS (SELECT * FROM documents WHERE doc_id >= 25),
        |fpt AS (
        |  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp
        |  FROM base),
        |ek AS (SELECT doc_id,
        |              doc_id = min(doc_id) OVER (PARTITION BY fp)
        |                AS exact_keep
        |       FROM fpt),
        |wd AS (SELECT doc_id, unnest(list_distinct(list_filter(
        |         string_split(text, ' '), x -> x <> ''))) AS word
        |       FROM base),
        |h AS (SELECT doc_id,
        |        CAST(concat('0x', substring(md5(word), 1, 15)) AS BIGINT) AS h
        |      FROM wd),
        |bits AS (
        |  SELECT doc_id, b,
        |         CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
        |              THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) GROUP BY doc_id, b),
        |sh AS (SELECT doc_id, CAST(sum(bit << b) AS BIGINT) AS simhash
        |       FROM bits GROUP BY doc_id),
        |chunks AS (
        |  SELECT doc_id, simhash, c AS chunk_id,
        |         (simhash >> (c * 15)) & 32767 AS chunk_key
        |  FROM sh CROSS JOIN (VALUES (0), (1), (2), (3)) t(c)
        |  QUALIFY count(*) OVER (PARTITION BY c, (simhash >> (c * 15)) & 32767)
        |          <= 1000),
        |nd AS (
        |  SELECT DISTINCT b.doc_id AS doc_id
        |  FROM chunks a JOIN chunks b
        |    ON a.chunk_id = b.chunk_id AND a.chunk_key = b.chunk_key
        |   AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |wsa AS (SELECT doc_id,
        |               list_filter(string_split(text,' '), x -> x <> '') AS ws
        |        FROM documents),
        |sh3 AS (
        |  SELECT doc_id, CASE WHEN len(ws) >= 3
        |    THEN list_distinct(list_transform(range(1, len(ws)-1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
        |    ELSE [coalesce(array_to_string(ws,' '), '')] END AS sh
        |  FROM wsa),
        |cont AS (
        |  SELECT DISTINCT c.doc_id
        |  FROM sh3 c JOIN sh3 e ON c.doc_id >= 25 AND e.doc_id < 25
        |  WHERE len(list_intersect(c.sh, e.sh)) >= 3),
        |qb AS (
        |  SELECT doc_id, length(text) AS chars,
        |         length(text) - length(replace(text, ' ', '')) AS spaces,
        |         len(list_filter(string_split(text,' '), x -> x <> '')) AS nw,
        |         length(text) - length(regexp_replace(text,
        |           '[^A-Za-z0-9\s]', '', 'g')) AS punct
        |  FROM base),
        |qk AS (
        |  SELECT doc_id,
        |    CASE WHEN nw < 10 THEN false WHEN nw > 100000 THEN false
        |         WHEN (CASE WHEN nw > 0
        |               THEN CAST(chars - spaces AS DOUBLE)/nw
        |               ELSE 0.0 END) < 3.0 THEN false
        |         WHEN (CASE WHEN nw > 0
        |               THEN CAST(chars - spaces AS DOUBLE)/nw
        |               ELSE 0.0 END) > 12.0 THEN false
        |         WHEN (CASE WHEN chars > 0
        |               THEN CAST(punct AS DOUBLE)/chars
        |               ELSE 0.0 END) > 0.30 THEN false
        |         ELSE true END AS quality_keep
        |  FROM qb),
        |f AS (
        |  SELECT b.doc_id, ek.exact_keep,
        |         b.doc_id IN (SELECT doc_id FROM nd) AS near_drop,
        |         b.doc_id IN (SELECT doc_id FROM cont) AS contaminated,
        |         qk.quality_keep
        |  FROM base b JOIN ek USING (doc_id) JOIN qk USING (doc_id))
        |SELECT '1_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM f
        |UNION ALL
        |SELECT '2_exact_dedup', CAST(sum(CASE WHEN exact_keep
        |  THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |UNION ALL
        |SELECT '3_near_dedup', CAST(sum(CASE WHEN exact_keep AND NOT near_drop
        |  THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |UNION ALL
        |SELECT '4_decontaminated', CAST(sum(CASE WHEN exact_keep
        |  AND NOT near_drop AND NOT contaminated
        |  THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |UNION ALL
        |SELECT '5_quality', CAST(sum(CASE WHEN exact_keep AND NOT near_drop
        |  AND NOT contaminated AND quality_keep
        |  THEN 1 ELSE 0 END) AS BIGINT) FROM f
        |ORDER BY stage""".stripMargin,

    // incremental ingest dedup: doc_id>=400 batch vs the <400 history's
    // fingerprint set; within-batch keeper = min doc_id per fp
    "d_incremental_dedup" ->
      """WITH fpall AS (
        |  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp
        |  FROM documents),
        |hist AS (SELECT DISTINCT fp FROM fpall WHERE doc_id < 400),
        |newd AS (SELECT doc_id, fp FROM fpall WHERE doc_id >= 400),
        |f AS (
        |  SELECT doc_id, fp,
        |         fp IN (SELECT fp FROM hist) AS dup_of_history,
        |         doc_id <> min(doc_id) OVER (PARTITION BY fp) AS dup_in_batch
        |  FROM newd)
        |SELECT doc_id, fp, dup_of_history, dup_in_batch,
        |       (NOT dup_of_history) AND (NOT dup_in_batch) AS admit
        |FROM f ORDER BY doc_id""".stripMargin,

    // normalization over deterministically messied text; DuckDB
    // regexp_replace needs 'g' for Spark's replace-all semantics
    "d_normalize" ->
      """WITH messy AS (
        |  SELECT doc_id, source,
        |         CASE WHEN doc_id % 3 = 0
        |              THEN '  PAD  ' || upper(substring(text, 1, 10)) ||
        |                   substring(text, 11) || '   tail  '
        |              ELSE text END AS t
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, source, t,
        |         trim(regexp_replace(lower(t), '\s+', ' ', 'g')) AS norm
        |  FROM messy)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN norm <> t THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_changed,
        |       CAST(sum(length(t) - length(norm)) AS BIGINT) AS chars_saved,
        |       CAST(sum(length(norm)) AS BIGINT) AS norm_len
        |FROM n GROUP BY source ORDER BY source""".stripMargin,

    // deterministic training order: md5 bucket shard, md5-order position
    "d_shuffle_order" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         CAST(CAST(concat('0x',
        |           substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |           AS BIGINT) % 8 AS INT) AS shard,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |         ORDER BY h, doc_id) AS INT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,

    // per-source skew factor vs uniform spread, flagged at 2x
    "v_skew_report" ->
      s"""WITH $cte,
         |per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
         |               CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |        FROM tok GROUP BY source),
         |t AS (SELECT source, n_rows, n_tokens,
         |             CAST(n_rows AS DOUBLE) / sum(CAST(n_rows AS DOUBLE))
         |               OVER () AS share,
         |             CAST(n_rows AS DOUBLE) / sum(CAST(n_rows AS DOUBLE))
         |               OVER () * count(*) OVER () AS skew
         |      FROM per)
         |SELECT source, n_rows, n_tokens,
         |       round(share, 6) AS row_share,
         |       round(skew, 6) AS skew_factor,
         |       skew > 2.0 AS skewed
         |FROM t ORDER BY source""".stripMargin,
  )
}
