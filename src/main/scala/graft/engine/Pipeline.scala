package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.report.ReportOps
import graft.rules.RuleSetLoader.Routing

/** The composed validation LIFECYCLE in one run (VERDICT r5 #5): schema
  * pre-gate → rule-driven auto-repair (audited) → resumable routed
  * validation into the [[ViolationStore]] → quarantine split of the
  * repaired corpus → artifact-assembled report. The reference runs this
  * as an orchestrated sequence of scripts around `main.py` (pull →
  * validate → merge → report); here it is one call with one shared
  * dataflow.
  *
  * Scan accounting (the composition contract, pinned by ScanSweep /
  * PipelineSpec):
  *  - the schema gate is METADATA only — no scan;
  *  - repair is a projection, so it RIDES every downstream scan instead
  *    of materializing an intermediate corpus;
  *  - the rule pass executes ONCE, inside the resumable runner's
  *    ViolationStore write — quarantine flagging and the report both read
  *    the PERSISTED violations (sparse) back, never re-running rules,
  *    picking the current generations from the manifest the runner
  *    returns (no second manifest read);
  *  - the quarantine split is the one additional corpus pass (it must
  *    rewrite the data by definition), and the summary's repair/quarantine
  *    counts read the split OUTPUT, not the corpus;
  *  - the optional drift gate histograms the split's clean side (already
  *    on disk) against the baseline snapshot — count-only aggregates, no
  *    further rule pass; drifted-source counts join the metrics table
  *    under `drift_psi_sources`.
  * A re-run at the same snapshot re-validates NOTHING (manifest resume)
  * and rebuilds quarantine + report from the stored violations.
  */
object Pipeline {

  final case class Result(
      /** The split table as written (bucket ∈ {clean, quarantine},
        * `_repairs` per row), re-read from disk.
        */
      table: DataFrame,
      /** Per-rule repair counts (rule_id, n_repaired) — the audit. */
      audit: DataFrame,
      /** Per-source lifecycle summary: (source, n_rows, n_violations,
        * pass, n_repaired, n_quarantined).
        */
      summary: DataFrame,
      /** Sources validated this run vs resumed from the manifest. */
      validated: Seq[String], skipped: Seq[String], failed: Seq[String],
      reportPath: Option[String],
      /** Expectation-suite verdicts (rule_id, n_violations, n_rows,
        * violation_rate, max_rate, status) when `expectations` was
        * supplied — evaluated from the STORED violations, no extra pass.
        */
      suite: Option[DataFrame] = None,
      /** Per-source PSI drift verdicts (source, psi, drifted) vs the
        * supplied baseline snapshot, when `driftBaseline` was given.
        */
      drift: Option[DataFrame] = None)

  /** One composed lifecycle run. `expectedSchema` gates on (column, type)
    * before anything executes (None = gate disabled, for callers without
    * a declared contract); `routing` drives BOTH the repair pass and the
    * validation (each slice repaired/validated by its routed set).
    */
  def run(spark: SparkSession, tokens: DataFrame, routing: Routing,
      dims: Map[String, DataFrame],
      expectedSchema: Option[Seq[(String, String)]],
      manifestPath: String, snapshotId: Long,
      quarantineDir: String,
      reportDir: Option[String] = None,
      metadataRules: Seq[String] = Nil,
      metricsDir: Option[String] = None,
      runId: Long = 1L,
      expectations: Seq[Expectation] = Nil,
      driftBaseline: Option[DataFrame] = None,
      /** When set, the split writes the r5-adjudicated bucketed layout
        * (`bucketBy(32, doc_id) + sortBy`) registered under this table
        * name — repeat validations of the clean side plan the uniqueness
        * aggregate exchange-free (BASELINE.md bucketed-layout
        * measurement); the plain partitioned layout stays the one-shot
        * default.
        */
      bucketedCleanTable: Option[String] = None): Result = {
    // 1. schema pre-gate: catalog/footer metadata only — a mis-evolved
    // table fails here before a single executor task is scheduled
    expectedSchema.foreach(SchemaCheck.require(tokens, _))

    // 2. repair rides as a projection on the shared scan
    val repaired = Repair.repairedRouted(tokens, routing)

    // 3. resumable routed validation; the rule pass lands in the store
    val vDir = s"${manifestPath}_violations"
    val result = ValidationRunner.runResumableWith(
      spark, repaired,
      df => Validator.violations(df, routing, dims),
      manifestPath, snapshotId, Some(vDir))

    // 4. quarantine split flags against the PERSISTED violations (no
    // second rule pass); the split write is the one extra corpus scan
    val stored = ViolationStore.latest(spark, vDir, snapshotId,
      result.manifest)
    val written = bucketedCleanTable match {
      case Some(t) =>
        Quarantine.writeBucketedFrom(spark,
          Quarantine.flagWith(repaired, stored), quarantineDir, t)
      case None =>
        Quarantine.flagWith(repaired, stored)
          .write.mode("overwrite").partitionBy("bucket", "source")
          .parquet(quarantineDir)
        spark.read.parquet(quarantineDir)
    }

    // 5. artifact report from the same stored violations
    val reportPath = reportDir.map { dir =>
      ReportOps.persistReport(
        ReportOps.assemble(stored, metadataRules), dir, snapshotId)
    }

    // 6. summary: runner's per-source verdicts + repair/quarantine counts
    // read from the split OUTPUT (what a consumer actually sees)
    val counts = written.groupBy("source").agg(
      sum(when(size(col("_repairs")) > 0, 1L).otherwise(0L))
        .as("n_repaired"),
      sum(when(col("bucket") === "quarantine", 1L).otherwise(0L))
        .as("n_quarantined"))
    // null-safe key: the NULL-source slice is a real partition, and a
    // plain equi-join would report it as never repaired or quarantined
    val summary = result.summary
      .join(counts.withColumnRenamed("source", "_csrc"),
        col("source") <=> col("_csrc"), "left")
      .select(col("source"), col("n_rows"), col("n_violations"),
        col("pass"),
        coalesce(col("n_repaired"), lit(0L)).as("n_repaired"),
        coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined"))

    val audit = written
      .select(explode(col("_repairs")).as("rule_id"))
      .groupBy("rule_id").agg(count(lit(1)).as("n_repaired"))

    // 7. metrics append + expectation suite: both read the STORED
    // violations and the summary's row counts — zero additional corpus
    // scans. The metrics row set is anchored on the routing's full rule
    // union so a silent rule (0 violations) still writes a row.
    val allRuleIds = routing.ruleSets.values.flatMap(_.rules.map(_.id))
      .toSeq.distinct.sorted
    lazy val nRows = result.summary.agg(sum(col("n_rows")))
      .collect().head.getLong(0)
    metricsDir.foreach { dir =>
      MetricsStore.appendIds(spark, dir, runId, snapshotId, allRuleIds,
        stored, nRows)
    }
    val suite =
      if (expectations.isEmpty) None
      else Some(localCopy(spark,
        Expectations.suite(spark, stored, nRows, expectations)))

    // 8. drift gate vs the supplied baseline snapshot: one histogram
    // aggregate per side (the repaired current table re-reads the split
    // output already on disk — no extra rule pass). The drifted-source
    // count lands in the metrics table under the reserved id
    // `drift_psi_sources`, so the cross-run trend covers distribution
    // movement beside rule violations.
    val drift = driftBaseline.map { base =>
      val d = localCopy(spark,
        Drift.psiDrift(written.where(col("bucket") === "clean"), base,
          "n_tok", bucketWidth = 10, threshold = 0.1))
      metricsDir.foreach { dir =>
        MetricsStore.appendIds(spark, dir, runId, snapshotId,
          Seq("drift_psi_sources"),
          d.where(col("drifted"))
            .select(col("source").cast("string").as("doc_id"),
              lit("drift_psi_sources").as("rule_id"),
              lit("").as("detail"), lit("warning").as("severity"),
              col("source")),
          nRows)
      }
      d
    }

    // summary and audit are CONFIG-cardinality (per-source / per-rule):
    // pin them driver-side at return, so they stay valid after a LATER
    // run overwrites the quarantine dir their lazy plans read (`table`
    // stays a live view of the dir by contract)
    Result(written, localCopy(spark, audit), localCopy(spark, summary),
      result.validatedPartitions, result.skippedPartitions,
      result.failedPartitions, reportPath, suite, drift)
  }

  private def localCopy(spark: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect().toIndexedSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), df.schema)
  }
}
