package graft.report

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Report-side relational post-processing — the engine re-expression of
  * /root/reference/latex_report/report_visualizer.py (SURVEY.md §2.4):
  * location filters/rewrites, the FDPG semi-join, set difference, custom
  * severity ordering, severity classification, and string extraction.
  * All tiny declarative transforms over the violations/summary tables.
  */
object ReportOps {

  /** Keep violations whose detail contains the target fragment
    * (report_visualizer.py:267-279 `filter_issues_by_location`).
    */
  def filterByDetail(violations: DataFrame, fragment: String): DataFrame =
    violations.where(col("detail").contains(fragment))

  /** Rewrite generic prefixes, the analogue of
    * `Bundle.entry[i].resource.ofType(T)` → `T`
    * (report_visualizer.py:325-340): strips a leading `column=` prefix.
    */
  def rewriteDetail(violations: DataFrame): DataFrame =
    violations.withColumn("detail",
      regexp_replace(col("detail"), "^[a-z_]+=", ""))

  /** FDPG-style semi-join: keep violations whose rule_id is in the querying
    * metadata set (report_visualizer.py:364-395 — path matching collapses to
    * rule-id membership in the flat rule model). Broadcast by construction.
    */
  def fdpgViolations(violations: DataFrame, metadataRules: Seq[String]): DataFrame =
    violations.where(col("rule_id").isin(metadataRules: _*))

  /** Set difference: general issues = all − fdpg
    * (report_visualizer.py:294-295).
    */
  def generalViolations(violations: DataFrame, metadataRules: Seq[String]): DataFrame =
    violations.where(!col("rule_id").isin(metadataRules: _*))

  /** Custom severity order fatal < error < warning < other
    * (report_visualizer.py:472-491).
    */
  def severityRank(severity: Column): Column =
    when(severity === "fatal", 0)
      .when(severity === "error", 1)
      .when(severity === "warning", 2)
      .otherwise(3)

  /** Severity → display color classification (report_visualizer.py:493-502). */
  def severityColor(severity: Column): Column =
    when(severity === "fatal", "red")
      .when(severity === "error", "red")
      .when(severity === "warning", "orange")
      .otherwise("gray")

  /** Extract expected/actual pairs from length-consistency diagnostics —
    * the analogue of parsing "Value is 'a' but must be 'e'"
    * (report_visualizer.py:259-263).
    */
  def extractLengthMismatch(violations: DataFrame): DataFrame =
    violations.where(col("rule_id") === "len_consistency")
      .select(col("doc_id"),
        regexp_extract(col("detail"), "n_tok=([0-9]+) size=([0-9]+)", 1)
          .cast("int").as("declared"),
        regexp_extract(col("detail"), "n_tok=([0-9]+) size=([0-9]+)", 2)
          .cast("int").as("actual"))

  /** Report-inclusion predicate (main.py:153-155, 174-176): a source enters
    * the report only if it has real issues — the HAVING-style filter after
    * the summary aggregate (the reference's "more than the single 'No issues
    * detected' sentinel" check collapses to n_violations > 0 in the flat
    * violation model).
    */
  def includeSources(summary: DataFrame): DataFrame =
    summary.where(col("n_violations") > 0).select("source")

  /** Group violations by normalized diagnostics (report_visualizer.py:
    * 203-215): the reference strips the trailing " (from <profile>)" and
    * collects (code, issue) pairs per normalized message; here the detail's
    * field-name prefix (before '=') is the normalized key and the rule ids
    * are collected per group.
    */
  def groupByDetailPrefix(violations: DataFrame): DataFrame =
    violations
      .groupBy(substring_index(col("detail"), "=", 1).as("detail_key"))
      .agg(count(lit(1)).as("n"),
        array_join(array_sort(collect_set(col("rule_id"))), ",")
          .as("rule_ids"))

  /** End-to-end report assembly — the one-call composition the reference
    * builds in report_visualizer.py:397-447 + extraction/main.py:296-304:
    * category split (FDPG metadata rules vs general) → dedup by (severity,
    * rule, generalized detail) → severity rank + display color.
    *
    * One flat frame (category, severity_rank, color, severity, rule_id,
    * detail_generic, cnt); a renderer would section it by category and
    * order by severity_rank.
    *
    * The reference's report-inclusion predicate (main.py:153-155 — only
    * sources with real issues enter the report) is a SUMMARY-side filter:
    * on the detailed-violations side it is vacuous, because every violation
    * row's source has ≥1 violation (itself) — scoping `detailed` to
    * "sources with violations" can only ever drop rows whose source is
    * NULL, which the `isNotNull` filter below does without executing the
    * summary subtree. An earlier formulation ran the full violations
    * pipeline a second time just to collect that no-op inclusion list —
    * one whole wasted corpus pass per assembled report at scale.
    * [[includeSources]] remains the standalone summary-side operator.
    */
  def assemble(detailed: DataFrame, metadataRules: Seq[String]): DataFrame =
    detailed.where(col("source").isNotNull)
      .select(
        when(col("rule_id").isin(metadataRules: _*), "fdpg")
          .otherwise("general").as("category"),
        col("severity"), col("rule_id"),
        graft.engine.Validator.generalize(col("detail")).as("detail_generic"))
      .groupBy("category", "severity", "rule_id", "detail_generic")
      .agg(count(lit(1)).as("cnt"))
      .select(col("category"),
        severityRank(col("severity")).as("severity_rank"),
        severityColor(col("severity")).as("color"),
        col("severity"), col("rule_id"), col("detail_generic"), col("cnt"))

  /** Cross-snapshot violation diff — the regression view a recurring
    * validation run needs (the reference writes one timestamped report per
    * run, main.py:296-304; comparing two runs is the natural next question
    * its users answer by eyeballing two PDFs). Violation identity is
    * (doc_id, rule_id, source); each identity present in either snapshot is
    * classified `new` (current only), `resolved` (baseline only), or
    * `persisting` (both), aggregated per (rule_id, status).
    *
    * Scale shape: both inputs are violation frames (~2% of the corpus by
    * the standing design assumption); distinct + one full-outer shuffle
    * join on the identity key, then a tiny aggregate — never a corpus
    * scan. Feeding it [[graft.engine.ViolationStore.latest]] frames from
    * two snapshots makes the whole diff a metadata-sized job.
    */
  def diffReport(current: DataFrame, baseline: DataFrame): DataFrame = {
    val cur = current.select("doc_id", "rule_id", "source").distinct()
      .withColumn("_cur", lit(1))
    val base = baseline.select("doc_id", "rule_id", "source").distinct()
      .withColumn("_base", lit(1))
    cur.join(base, Seq("doc_id", "rule_id", "source"), "full_outer")
      .select(col("rule_id"),
        when(col("_cur").isNotNull && col("_base").isNotNull, "persisting")
          .when(col("_cur").isNotNull, "new")
          .otherwise("resolved").as("status"))
      .groupBy("rule_id", "status")
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[diffReport]] specialized to a baseline that is a SUBSET SNAPSHOT of
    * the current table (`baseFlag` marks the baseline rows): the same
    * (rule_id, status, cnt) output from ONE rule pass instead of two.
    *
    * Why it's sound: a row-level/referential violation is a property of
    * the ROW, so the baseline's violation set is exactly the current
    * pass's rows where `baseFlag` holds — recomputing them on the filtered
    * table is a second full corpus scan for information the first pass
    * already touched. The flag rides through the violation pass encoded
    * as a doc_id suffix (#0/#1 — the row pass never interprets doc_id),
    * and per-identity base membership is `max(flag)` over the identity
    * group. Uniqueness is the one dataset-level rule whose baseline
    * verdicts differ (a key can be duplicated in the full table but
    * unique in the snapshot), and its per-snapshot counts AND min-source
    * identities come from the SAME single key-aggregate (cnt, base cnt,
    * both min sources) — including the corner where the baseline's
    * min(source) differs from the full table's, which produces a
    * base-only identity (a `resolved` row) exactly as the two-pass form
    * would. Caveat: assumes non-null doc_id (the engine's not-null rule
    * gates that) and single-column unique keys.
    *
    * Scale: two-pass diff = 2 × (row scan + ref scan + unique shuffle);
    * this = 1 × row scan + 1 × ref scan + 1 unique shuffle — half the
    * corpus I/O of the report the reference regenerates per snapshot.
    */
  def diffReportSubset(tok: DataFrame, ruleSet: graft.rules.RuleSet,
      dims: Map[String, DataFrame],
      baseFlag: Column): DataFrame = {
    val tagged = tok.withColumn("doc_id",
      concat(col("doc_id"), when(baseFlag, lit("#1")).otherwise(lit("#0"))))
    // row and referential rules through the one compiler (small-dim
    // referential rules ride its row scan) — the diff's scan budget stays
    // equal to the violations plan's own (PlanAudit)
    val rr = graft.engine.Validator.violations(tagged,
        ruleSet.copy(rules = ruleSet.rules
          .filterNot(_.isInstanceOf[graft.rules.UniqueRule])), dims)
      .select(col("doc_id").as("_tag"), col("rule_id"), col("source"))
      .groupBy(expr("substring(_tag, 1, length(_tag)-2)").as("doc_id"),
        col("rule_id"), col("source"))
      .agg(max(expr("substring(_tag, -2, 2) = '#1'")).as("in_base"))
      .withColumn("in_cur", lit(true))

    // one projection + explode per unique rule: emitting the current and
    // base-only identities as where()+union branches would EXECUTE the
    // key aggregate twice (two corpus scans — the waste this one-pass
    // form exists to remove)
    val uniqs = ruleSet.uniqueRules.filter(_.moreColumns.isEmpty).map { u =>
      val none = array().cast("array<struct<doc_id:string,rule_id:string," +
        "source:string,in_base:boolean,in_cur:boolean>>")
      def ident(src: Column, inBase: Column, inCur: Column) =
        struct(col(u.column).cast("string").as("doc_id"),
          lit(u.id).as("rule_id"), src.as("source"),
          inBase.as("in_base"), inCur.as("in_cur"))
      tok.groupBy(col(u.column))
        .agg(count(lit(1)).as("cnt"),
          sum(when(baseFlag, 1L).otherwise(0L)).as("cntb"),
          min(col("source")).as("srcf"),
          min(when(baseFlag, col("source"))).as("srcb"))
        .select(explode(concat(
          when(col("cnt") > 1, array(ident(col("srcf"),
            col("cntb") > 1 && (col("srcb") <=> col("srcf")), lit(true))))
            .otherwise(none),
          when(col("cntb") > 1 && !(col("srcb") <=> col("srcf")),
            array(ident(col("srcb"), lit(true), lit(false))))
            .otherwise(none))).as("r"))
        .select(col("r.doc_id"), col("r.rule_id"), col("r.source"),
          col("r.in_base"), col("r.in_cur"))
    }

    (rr +: uniqs).reduce(_ unionByName _)
      .select(col("rule_id"),
        when(col("in_cur") && col("in_base"), "persisting")
          .when(col("in_cur"), "new")
          .otherwise("resolved").as("status"))
      .groupBy("rule_id", "status")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Persist an assembled report as a snapshot-stamped parquet artifact —
    * the engine analogue of the reference writing one timestamped JSON
    * report per run (extraction/main.py:296-304). Returns the artifact
    * path. Reports are small (deduped issue groups), so one file per
    * snapshot; the snapshot id lives in the directory name, making
    * latest-selection a pure listing operation (no mtime dependence —
    * object stores don't preserve useful mtimes).
    */
  def persistReport(report: DataFrame, baseDir: String,
      snapshotId: Long): String = {
    val dir = s"$baseDir/report_snap=$snapshotId"
    report.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Path of the newest persisted report under `baseDir` (max snapshot id
    * parsed from the directory name — the reference picks its newest report
    * by file mtime, report_visualizer.py:505-509; snapshot-in-name is the
    * deterministic, object-store-safe equivalent). Hadoop FileSystem
    * listing, so it works on HDFS/S3 unchanged.
    */
  def latestReportPath(spark: org.apache.spark.sql.SparkSession,
      baseDir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(baseDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .flatMap { d =>
        d.getName match {
          case s if s.startsWith("report_snap=") =>
            scala.util.Try(s.stripPrefix("report_snap=").toLong).toOption
              .map(_ -> d.toString)
          case _ => None
        }
      }
      .sortBy(_._1).lastOption.map(_._2)
  }

  /** Reload the newest persisted report (fails if none exists). */
  def latestReport(spark: org.apache.spark.sql.SparkSession,
      baseDir: String): DataFrame =
    spark.read.parquet(latestReportPath(spark, baseDir).getOrElse(
      throw new IllegalStateException(s"no persisted report under $baseDir")))

  /** Distribution pivot (report_visualizer.py:21-57): per-source histogram
    * rows widened to one row per source with `--` for missing buckets.
    */
  def pivotHistogram(hist: DataFrame, buckets: Seq[Long]): DataFrame = {
    val wide = hist.groupBy("source")
      .pivot("bucket", buckets.map(_.asInstanceOf[AnyRef]))
      .agg(first(col("cnt")))
    val cols = col("source") +: buckets.map(b =>
      coalesce(col(s"$b").cast("string"), lit("--")).as(s"b$b"))
    wide.select(cols: _*)
  }

  /** First `k` exemplar violations per rule — the "show me one" view a
    * triaging user reads before the counts (the reference prints the raw
    * per-issue diagnostics list; at scale nobody reads millions of rows, so
    * the report carries k deterministic examples per rule instead).
    * Deterministic: ranked by (doc_id, source, detail) — a total order over
    * violation rows — via one window partitioned by rule_id. The shuffle
    * carries only violation rows (~2% of input) hashed across |rules|
    * partitions; for pathological single-rule skew the same two-level
    * trick as packing applies, but k·|rules| output is tiny by contract.
    */
  def ruleExemplars(violations: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("rule_id")
      .orderBy(col("doc_id"), col("source"), col("detail"))
    violations
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("rule_id", "rank", "doc_id", "source", "detail")
  }

  /** Render an assembled report ([[assemble]] output) as a markdown
    * document — the human-readable face the reference ships as a LaTeX
    * PDF (latex_report/report_visualizer.py renders tables per category /
    * severity; this emits the same structure as markdown sections).
    * Driver-side BY DESIGN: the report frame is
    * (category × severity × rule × generalized-detail)-sized — a few
    * hundred rows regardless of corpus size — so the collect is
    * report-cardinality, never data-cardinality.
    */
  def renderMarkdown(report: DataFrame, title: String): String = {
    val rows = report
      .select("category", "severity_rank", "severity", "rule_id",
        "detail_generic", "cnt")
      .orderBy("category", "severity_rank", "rule_id", "detail_generic")
      .collect()
    val sb = new StringBuilder
    sb ++= s"# $title\n"
    val total = rows.map(_.getLong(5)).sum
    sb ++= s"\nTotal findings: **$total** across ${rows.length} " +
      "distinct (rule, detail) groups.\n"
    rows.groupBy(_.getString(0)).toSeq.sortBy(_._1).foreach {
      case (category, catRows) =>
        sb ++= s"\n## ${category.capitalize}\n\n"
        sb ++= "| severity | rule | detail | count |\n"
        sb ++= "|---|---|---|---|\n"
        catRows.sortBy(r => (r.getInt(1), r.getString(3), r.getString(4)))
          .foreach { r =>
            sb ++= s"| ${r.getString(2)} | ${r.getString(3)} | " +
              s"${r.getString(4).replace("|", "\\|")} | ${r.getLong(5)} |\n"
          }
    }
    sb.result()
  }
}
