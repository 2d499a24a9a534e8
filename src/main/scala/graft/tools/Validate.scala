package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}
import graft.engine.Validator
import graft.report.ReportOps
import graft.rules.RuleSetLoader
import graft.sources.DimensionLoader

/** The spark-submit entry point — the engine's analogue of the reference's
  * `python main.py` run (/root/reference/extraction/main.py): load rule +
  * value-set config, validate the token table under routing with resume
  * from the checkpoint manifest, persist a snapshot-stamped report
  * artifact, and print one JSON summary line.
  *
  * {{{
  * spark-submit --class graft.tools.Validate engine.jar \
  *   --tokens  hdfs://…/tokens        \  (parquet dir, partitioned by source)
  *   --rules   /etc/graft/rules.json  \  (RuleSetLoader shape)
  *   --dims    /etc/graft/dims.json   \  (DimensionLoader shape, optional)
  *   --manifest hdfs://…/manifest     \  (checkpoint table)
  *   --snapshot 42                    \  (Iceberg-snapshot stand-in)
  *   --report  hdfs://…/reports          (artifact dir, optional)
  * }}}
  *
  * Re-submission with the same manifest + snapshot skips partitions already
  * validated (resume-by-anti-join); config errors fail fast (malformed rule
  * sets / dangling routes throw at parse, never validate-nothing).
  */
object Validate {

  final case class Args(
      tokens: String, rules: String, dims: Option[String],
      manifest: String, snapshot: Long, report: Option[String],
      violations: Option[String], prune: Boolean,
      /** `--pipeline <quarantineDir>`: run the composed lifecycle
        * ([[graft.engine.Pipeline]]) — schema gate → routed repair →
        * resumable validate → quarantine split into the given dir →
        * artifact report.
        */
      pipeline: Option[String],
      /** `--expect "col:type,col:type"`: (column, type) contract for the
        * pipeline's schema pre-gate; omitted = gate disabled.
        */
      expect: Option[Seq[(String, String)]],
      /** `--metrics <dir>`: append this run's per-rule violation counts to
        * the cross-run metrics table ([[graft.engine.MetricsStore]]).
        */
      metrics: Option[String] = None,
      /** `--runid N`: the metrics table's run key (defaults to the
        * snapshot id — distinct re-runs at one snapshot should pass it).
        */
      runId: Option[Long] = None,
      /** `--sla true`: evaluate the severity-derived expectation suite
        * over the run's stored violations and include it in the output.
        */
      sla: Boolean = false,
      /** `--drift <parquetPath>`: baseline snapshot for the pipeline's
        * PSI drift gate; drifted-source counts join the metrics table.
        */
      drift: Option[String] = None,
      /** `--bucketed <tableName>`: write the split in the bucketed clean
        * layout (repeat validations plan uniqueness exchange-free).
        */
      bucketed: Option[String] = None)

  /** Every flag `main` reads; each takes exactly one value. */
  private val Flags = Set("tokens", "rules", "dims", "manifest", "snapshot",
    "report", "violations", "prune", "pipeline", "expect", "metrics", "runid",
    "sla", "drift", "bucketed", "trend")

  /** `--flag value` pairs. An unknown flag, a flag without a value (last,
    * or followed by another flag) and a stray value fail with an
    * `IllegalArgumentException` that names it: a typo'd `--snapshto 42`
    * must not validate snapshot 0.
    */
  private def flags(argv: Array[String]): Map[String, String] = {
    def bad(msg: String) = throw new IllegalArgumentException(msg)
    def isFlag(a: String) = a.startsWith("--")
    (argv.indices by 2).map { i =>
      val k = argv(i)
      if (!isFlag(k)) bad(s"expected a --flag, got '$k'")
      if (!Flags(k.stripPrefix("--"))) bad(s"unknown flag $k")
      if (i + 1 >= argv.length || isFlag(argv(i + 1))) bad(s"flag $k needs a value")
      k.stripPrefix("--") -> argv(i + 1)
    }.toMap
  }

  def parseArgs(argv: Array[String]): Args = {
    val m = flags(argv)
    def required(k: String) =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing flag --$k"))
    Args(
      tokens = required("tokens"),
      rules = required("rules"),
      dims = m.get("dims"),
      manifest = required("manifest"),
      snapshot = m.getOrElse("snapshot", "0").toLong,
      report = m.get("report"),
      violations = m.get("violations"),
      prune = m.get("prune").exists(_.toBoolean),
      pipeline = m.get("pipeline"),
      expect = m.get("expect").map(_.split(",").toSeq.map { kv =>
        kv.split(":") match {
          case Array(c, t) => c.trim -> t.trim
          case _ => throw new IllegalArgumentException(
            s"--expect entries must be col:type, got '$kv'")
        }
      }),
      metrics = m.get("metrics"),
      runId = m.get("runid").map(_.toLong),
      sla = m.get("sla").exists(_.toBoolean),
      drift = m.get("drift"),
      bucketed = m.get("bucketed"))
  }

  final case class RunOutcome(
      validated: Seq[String], skipped: Seq[String],
      summary: DataFrame, reportPath: Option[String],
      /** Partitions whose contained per-partition fallback FAILED — nonzero
        * means the run is partial; `main` prints the count and exits
        * nonzero so an orchestrator can't misread it as clean.
        */
      failed: Seq[String] = Nil,
      /** Violation-store generations no current manifest entry references,
        * deleted (only when the run was invoked with pruning on).
        */
      pruned: Int = 0)

  /** One resumable routed run (the testable core; `main` is arg plumbing).
    * Delegates the lifecycle — resume-by-anti-join, ONE batched job over
    * all pending partitions (partition pruning at the scan when stored by
    * `source`), per-partition containment fallback, manifest bookkeeping —
    * to [[graft.engine.ValidationRunner.runResumableWith]], with routed
    * dispatch as the violations pipeline (rule-set count never multiplies
    * I/O: every set batches into the scan).
    *
    * The run's single rule pass terminates in a [[ViolationStore]] write
    * (default layout `<manifest>_violations`), and `--report` assembles the
    * artifact from those persisted violations — the reference's
    * write-the-report-from-collected-issues shape (main.py:296-304). The
    * returned summary is a driver-local frame: the runner builds it from
    * its source census, the violation counts of the generation it just
    * wrote and, on a resumed leg, the manifest it already collected; no
    * extra scan and nothing cached. A `--report` on a RESUMED
    * run therefore re-validates NOTHING: completed partitions contribute
    * their stored generations (one rule pass per partition per snapshot,
    * ever — CheckpointSpec pins the report plan token-scan-free). The
    * report and `--prune` pick those generations from the manifest the
    * runner returns (`RunResult.manifest`): no second manifest read, no
    * store walk.
    */
  def run(spark: SparkSession, tokens: DataFrame, rulesJson: String,
      dimsJson: Option[String], manifestPath: String, snapshotId: Long,
      reportDir: Option[String],
      metadataRules: Seq[String] = Nil,
      violationsDir: Option[String] = None,
      pruneSuperseded: Boolean = false): RunOutcome = {
    val routing = RuleSetLoader.parse(rulesJson)
    val dims = dimsJson.map(DimensionLoader.parse(spark, _))
      .getOrElse(Map.empty)
    val vDir = violationsDir.getOrElse(s"${manifestPath}_violations")

    // the signature-cluster compiler: per-row cost independent of
    // rule-set count (WideRoutingSpec pins it against the per-slice
    // definition of routing on homogeneous, heterogeneous and appliesTo
    // configs)
    val result = graft.engine.ValidationRunner.runResumableWith(
      spark, tokens, df => Validator.violations(df, routing, dims),
      manifestPath, snapshotId, Some(vDir))

    val reportPath = reportDir.map { dir =>
      val rep = ReportOps.assemble(
        graft.engine.ViolationStore.latest(spark, vDir, snapshotId,
          result.manifest),
        metadataRules)
      ReportOps.persistReport(rep, dir, snapshotId)
    }
    // after the generation this run appended (and the report, which reads
    // the store): reclaim generations no current manifest entry references
    // — the scheduler hook that keeps a long-lived snapshot's artifact
    // directory from accumulating one gen= per resumed run
    val pruned =
      if (pruneSuperseded)
        graft.engine.ViolationStore.prune(spark, vDir, snapshotId,
          result.manifest)
      else 0
    RunOutcome(result.validatedPartitions, result.skippedPartitions,
      result.summary, reportPath, result.failedPartitions, pruned)
  }

  /** The composed lifecycle verb (`--pipeline <quarantineDir>`): delegates
    * to [[graft.engine.Pipeline.run]] with the parsed routing + dims.
    */
  def runPipeline(spark: SparkSession, tokens: DataFrame, rulesJson: String,
      dimsJson: Option[String], args: Args): graft.engine.Pipeline.Result = {
    val routing = RuleSetLoader.parse(rulesJson)
    val dims = dimsJson.map(DimensionLoader.parse(spark, _))
      .getOrElse(Map.empty)
    graft.engine.Pipeline.run(spark, tokens, routing, dims, args.expect,
      args.manifest, args.snapshot, args.pipeline.get, args.report,
      metricsDir = args.metrics,
      runId = args.runId.getOrElse(args.snapshot),
      expectations =
        if (args.sla) graft.engine.Expectations.defaultSuite(routing)
        else Nil,
      driftBaseline = args.drift.map(spark.read.parquet(_)),
      bucketedCleanTable = args.bucketed)
  }

  // ---- the printed JSON lines ---------------------------------------------

  /** One JSON object per collected row of `df`, keyed by column name; a
    * NULL value prints as JSON null.
    */
  private def rowsJson(df: DataFrame): JValue = {
    val names = df.columns.toList
    JArray(df.collect().toList.map(r => JObject(names.zipWithIndex.map {
      case (n, i) => n -> Extraction.decompose(r.get(i))(DefaultFormats)
    })))
  }

  /** The line `main` prints for a run. */
  def runLine(out: RunOutcome): String = compact(render(
    ("validated" -> out.validated.size) ~ ("skipped" -> out.skipped.size) ~
      ("failed" -> out.failed.size) ~ ("pruned" -> out.pruned) ~
      ("summary" -> rowsJson(out.summary.orderBy("source"))) ~
      ("report" -> out.reportPath)))

  /** The line `main` prints for a `--pipeline` run (`sla` with `--sla`). */
  def pipelineLine(out: graft.engine.Pipeline.Result): String = compact(render(
    ("validated" -> out.validated.size) ~ ("skipped" -> out.skipped.size) ~
      ("failed" -> out.failed.size) ~
      ("summary" -> rowsJson(out.summary.orderBy("source"))) ~
      ("sla" -> out.suite.map(s => rowsJson(s.orderBy("rule_id").select(
        "rule_id", "n_violations", "violation_rate", "max_rate",
        "status")))) ~
      ("report" -> out.reportPath)))

  /** The line `main` prints for `--trend <metricsDir>`. */
  def trendLine(spark: SparkSession, metricsDir: String): String =
    compact(render("trend" -> rowsJson(graft.engine.MetricsStore
      .trend(spark, metricsDir).orderBy("run_id", "rule_id"))))

  def main(argv: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    // trend-only verb: `Validate --trend <metricsDir>` reads the metrics
    // table and prints the run-over-run trend — no corpus, no rules
    flags(argv).get("trend") match {
      case Some(metricsDir) =>
        val spark = graft.Sessions.local(cpus, "graft-trend")
        try println(trendLine(spark, metricsDir))
        finally spark.stop()
      case None => validate(parseArgs(argv), cpus)
    }
  }

  private def validate(args: Args, cpus: Int): Unit = {
    val spark = graft.Sessions.local(cpus, "graft-validate")
    val failed =
      try {
        val rulesJson = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(args.rules)))
        val dimsJson = args.dims.map(p => new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))))
        if (args.pipeline.isDefined) {
          val out = runPipeline(spark, spark.read.parquet(args.tokens),
            rulesJson, dimsJson, args)
          println(pipelineLine(out))
          out.failed.size
        } else {
          val out = run(spark, spark.read.parquet(args.tokens), rulesJson,
            dimsJson, args.manifest, args.snapshot, args.report,
            violationsDir = args.violations, pruneSuperseded = args.prune)
          println(runLine(out))
          out.failed.size
        }
      } finally spark.stop()
    // a contained-failure run is PARTIAL: exit nonzero so schedulers retry
    if (failed > 0) sys.exit(2)
  }
}
