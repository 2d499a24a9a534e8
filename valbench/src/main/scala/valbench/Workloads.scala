package valbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{Drift, StatsOps, Validator}
import graft.rules.{RuleSet, UniqueRule}
import graft.sources.TokenTable
import graft.streaming.StreamingValidation
import graft.tools.Validate

/** One benchmark workload: a closed-loop operation made of calls into the
  * engine's public functions, and a check of each operation's output
  * against a reference computed once, outside timing.
  */
trait Workload {
  /** Input rows one operation validates. */
  def rowsPerOp: Long

  /** Seconds one of the first timed operations takes on a 4-core box; it
    * fixes how many operations a run of S seconds times.
    */
  def nominalOpSeconds: Double

  /** Run one operation; the result is what [[check]] needs. */
  def op(span: Spans, index: Int): Any

  /** Check one output. Right: per-operation values read from the outputs
    * (reported by the traced run); Left: what differs.
    */
  def check(out: Any): Either[String, Map[String, Double]]

  /** Per-operation timings the workload reports beside the operation time. */
  def phases(out: Any): Map[String, Double] = Map.empty
}

object Workloads {

  def apply(name: String, spark: SparkSession, paths: Inputs.Paths,
      workDir: String): Workload = name match {
    case "fullpass_stream" => new FullPassStream(spark, paths)
    case "resume_report" => new ResumeReport(spark, paths, workDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def dims(spark: SparkSession): Map[String, DataFrame] =
    Map("allowed_sources" -> TokenTable.allowedDim(spark))

  private def rowKey(r: Row): String = r.toSeq.mkString("|")

  private def sameRows(what: String, got: Seq[Row], want: Seq[Row])
      : Either[String, Unit] = {
    val g = got.map(rowKey).sorted
    val w = want.map(rowKey).sorted
    if (g == w) Right(())
    else Left(s"$what: got ${g.size} rows ${g.diff(w).take(3)}, " +
      s"want ${w.size} rows ${w.diff(g).take(3)}")
  }

  /** The row rules of the default rule set, which are also those of the
    * strict set of [[RoutingJson]], as plain predicates: a row violates
    * rule `id` where its predicate holds. The references are built from
    * these, not from the engine's rule compilers.
    */
  private val RowRuleHits: Seq[(String, Column)] = Seq(
    "not_null_tokens" -> col("tokens").isNull,
    "not_null_source" -> col("source").isNull,
    "len_consistency" ->
      (col("tokens").isNotNull && size(col("tokens")) =!= col("n_tok")),
    "token_bounds" -> (col("tokens").isNotNull &&
      exists(col("tokens"), x => x < 0 || x >= TokenTable.Vocab)),
    "n_tok_range" -> (col("n_tok").isNotNull &&
      (col("n_tok") < 1 || col("n_tok") >= (1 << 20))),
    "ref_source" ->
      (col("source").isNull || !col("source").isin("A", "N", "R")))

  private def countWhere(c: Column): Column = sum(when(c, 1L).otherwise(0L))

  final case class FullPassOut(dedup: Seq[Row], summary: Seq[Row],
      drift: Seq[Row], rows: Long)
  final case class FullPassStreamOut(pass: Any, passS: Double, stream: Any,
      streamS: Double)
  final case class Leg(validated: Seq[String], skipped: Seq[String],
      failed: Seq[String], summary: Seq[Row], report: Option[String])
  final case class ResumeOut(dir: String, legs: Seq[Leg], noopS: Double,
      reportS: Double)

  // ---- fullpass_stream -----------------------------------------------------

  /** The full pass, then the uniqueness rule over the same table again,
    * through the streaming state store instead of the batch exchange.
    */
  final class FullPassStream(spark: SparkSession, paths: Inputs.Paths)
      extends Workload {
    private val pass = new FullPass(spark, paths)
    private val stream = new StreamUnique(spark, paths)
    val rowsPerOp: Long = Inputs.Rows
    val nominalOpSeconds: Double = pass.nominalOpSeconds + stream.nominalOpSeconds

    def op(span: Spans, index: Int): Any = {
      val t0 = System.nanoTime()
      val p = pass.op(span, index)
      val t1 = System.nanoTime()
      val s = stream.op(span, index)
      FullPassStreamOut(p, (t1 - t0) / 1e9, s, (System.nanoTime() - t1) / 1e9)
    }

    override def phases(out: Any): Map[String, Double] = {
      val o = out.asInstanceOf[FullPassStreamOut]
      Map("fullpass_s" -> o.passS, "stream_s" -> o.streamS)
    }

    def check(out: Any): Either[String, Map[String, Double]] = {
      val o = out.asInstanceOf[FullPassStreamOut]
      stream.check(o.stream).flatMap(_ => pass.check(o.pass))
    }
  }

  /** The full rule-set pass, composed as `graft.Bench.fullPassOn` composes
    * it (fused drift sketch).
    */
  final class FullPass(spark: SparkSession, paths: Inputs.Paths)
      extends Workload {
    private val tok = spark.read.parquet(paths.tokens)
    private val baseline = Inputs.baseline(tok)
    private val ruleSet = RuleSet.default(TokenTable.Vocab)
    private val qs = Seq(0.5, 0.95)
    val rowsPerOp: Long = Inputs.Rows
    val nominalOpSeconds: Double = 4.0

    def op(span: Spans, index: Int): Any = {
      val d = dims(spark)
      val detailed = span("engine.Validator.build")(
        Validator.violations(tok, ruleSet, d))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val stats = span("engine.StatsOps.build")(
        StatsOps.columnStatsWithQuantiles(tok, 200, qs))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val dedup = span("engine.Validator.dedupIssues")(
          Validator.dedupIssues(detailed).collect().toSeq)
        span("engine.StatsOps.columnStatsWithQuantiles")(stats.collect())
        val summary = span("engine.Validator.summaryFromCounts")(
          Validator.summaryFromCounts(stats, detailed).collect().toSeq)
        val drift = span("engine.Drift.sketchDriftFromQuantiles")(
          Drift.sketchDriftFromQuantiles(stats, baseline, "n_tok", 200, qs,
            2.0).collect().toSeq)
        FullPassOut(dedup, summary, drift, span("sources.count")(tok.count()))
      } finally {
        detailed.unpersist(blocking = false)
        stats.unpersist(blocking = false)
      }
    }

    /** Per-rule violation counts and the per-source summary from plain
      * predicates and a plain duplicate count over the generated table.
      */
    private lazy val expected: (Map[String, Long], Seq[Row]) = {
      val perSource = tok.groupBy("source").agg(count(lit(1)).as("n_rows"),
        (RowRuleHits.map { case (_, c) => countWhere(c) }.reduce(_ + _)
          .as("n_row_viol") +:
          RowRuleHits.map { case (id, c) => countWhere(c).as(id) }): _*)
      val dups = tok.groupBy("doc_id")
        .agg(count(lit(1)).as("cnt"), min("source").as("src"))
        .where(col("cnt") > 1)
        .groupBy(col("src").as("source")).agg(count(lit(1)).as("n_dup"))
      val rows = perSource.join(dups, Seq("source"), "left").collect().toSeq
      def nDup(r: Row) =
        Option(r.getAs[Any]("n_dup")).fold(0L)(_.asInstanceOf[Long])
      val perRule = RowRuleHits.map { case (id, _) =>
          id -> rows.map(_.getAs[Long](id)).sum }.toMap +
        ("unique_doc_id" -> rows.map(nDup).sum)
      val summary = rows.map { r =>
        val nv = r.getAs[Long]("n_row_viol") + nDup(r)
        Row(r.getAs[String]("source"), r.getAs[Long]("n_rows"), nv, nv == 0)
      }
      (perRule.filter(_._2 > 0), summary)
    }

    def check(out: Any): Either[String, Map[String, Double]] = {
      val o = out.asInstanceOf[FullPassOut]
      val (wantRules, wantSummary) = expected
      val gotRules = o.dedup.groupBy(_.getAs[String]("rule_id"))
        .map { case (id, rs) => id -> rs.map(_.getAs[Long]("cnt")).sum }
      for {
        _ <- if (gotRules == wantRules) Right(())
             else Left(s"per-rule counts $gotRules, want $wantRules")
        _ <- sameRows("summary", o.summary, wantSummary)
        _ <- if (o.drift.size == wantSummary.size) Right(())
             else Left(s"drift rows ${o.drift.size}")
        _ <- if (o.rows == rowsPerOp) Right(()) else Left(s"rows ${o.rows}")
      } yield Map("engine.Validator.violation_rows" -> gotRules.values.sum.toDouble)
    }
  }

  // ---- resume_report -------------------------------------------------------

  /** The strict/lenient routing of the registry's `v_routed_matrix`. */
  val RoutingJson: String =
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

  /** The row rules of the lenient set; source R is routed to it. */
  private val LenientRules = Set("not_null_tokens", "len_consistency")

  val DimsJson = """{"valueSets":{"allowed_sources":["A","N","R"]}}"""

  /** The spark-submit lifecycle through `Validate.run` on a fresh manifest:
    * leg 1 validates sources A and N, leg 2 the rest, leg 3 re-submits and
    * must skip everything, and a final re-submission with a report
    * directory writes the `--report` artifact from the ViolationStore.
    */
  final class ResumeReport(spark: SparkSession, paths: Inputs.Paths,
      workDir: String) extends Workload {
    private val tok = spark.read.parquet(paths.tokens)
    private val firstLeg = Seq("A", "N")
    val rowsPerOp: Long = Inputs.Rows
    val nominalOpSeconds: Double = 7.0

    def op(span: Spans, index: Int): Any = {
      val dir = s"$workDir/resume/op$index"
      def leg(t: DataFrame, report: Option[String] = None): (Leg, Double) = {
        val t0 = System.nanoTime()
        val l = span(if (report.isEmpty) "tools.Validate.run"
                     else Tracer.ReportCall) {
          val o = Validate.run(spark, t, RoutingJson, Some(DimsJson),
            s"$dir/manifest", 1L, report)
          Leg(o.validated, o.skipped, o.failed,
            o.summary.orderBy("source").collect().toSeq, o.reportPath)
        }
        (l, (System.nanoTime() - t0) / 1e9)
      }
      val (l1, _) = leg(tok.where(col("source").isin(firstLeg: _*)))
      val (l2, _) = leg(tok)
      val (l3, noopS) = leg(tok)
      val (l4, reportS) = leg(tok, Some(s"$dir/reports"))
      ResumeOut(dir, Seq(l1, l2, l3, l4), noopS, reportS)
    }

    override def phases(out: Any): Map[String, Double] = {
      val o = out.asInstanceOf[ResumeOut]
      Map("resume_noop_s" -> o.noopS, "report_s" -> o.reportS)
    }

    private lazy val partitions: Seq[String] =
      tok.select("source").distinct().collect().map(_.getString(0)).toSeq.sorted

    /** Per-rule violation counts of the report, from plain predicates:
      * source R gets the lenient row rules, every other source the strict
      * ones plus uniqueness. Under resume, dataset rules see one validated
      * slice at a time (`ValidationRunner`), so a doc_id counts as
      * duplicated once per leg slice in which it occurs more than once.
      */
    private lazy val expected: Map[String, Long] = {
      val strict = !col("source").eqNullSafe("R")
      val counts = RowRuleHits.map { case (id, hit) =>
        countWhere(if (LenientRules(id)) hit else strict && hit).as(id)
      }
      val hits = tok.agg(counts.head, counts.tail: _*).head()
      val dups = tok.where(strict)
        .groupBy(col("source").isin(firstLeg: _*), col("doc_id")).count()
        .where(col("count") > 1).count()
      (RowRuleHits.map { case (id, _) => id -> hits.getAs[Long](id) } :+
        ("unique_doc_id" -> dups)).toMap.filter(_._2 > 0)
    }

    def check(out: Any): Either[String, Map[String, Double]] = {
      val o = out.asInstanceOf[ResumeOut]
      val rest = partitions.filterNot(firstLeg.contains)
      val want = Seq((firstLeg, Nil), (rest, firstLeg), (Nil, partitions),
        (Nil, partitions))
      val legErr = o.legs.zip(want).zipWithIndex.collectFirst {
        case ((l, (v, s)), i) if l.validated.sorted != v.sorted ||
            l.skipped.sorted != s.sorted || l.failed.nonEmpty =>
          s"leg ${i + 1}: validated ${l.validated} skipped ${l.skipped} " +
            s"failed ${l.failed}"
      }
      val store = new File(s"${o.dir}/manifest_violations")
      val files = walk(store).filter(_.getName.endsWith(".parquet"))
      val result = for {
        _ <- legErr.toLeft(())
        path <- o.legs.last.report.toRight("the final call wrote no report")
        report = spark.read.parquet(path).collect().toSeq
        got = report.groupBy(_.getAs[String]("rule_id"))
          .map { case (id, rs) => id -> rs.map(_.getAs[Long]("cnt")).sum }
        _ <- if (got == expected) Right(())
             else Left(s"report per-rule counts $got, want $expected")
      } yield Map(
        "engine.Validator.violation_rows" -> got.values.sum.toDouble,
        "engine.Checkpoint.manifest_rows" ->
          spark.read.parquet(s"${o.dir}/manifest").count().toDouble,
        "engine.Checkpoint.skipped_ratio" ->
          o.legs(2).skipped.size.toDouble / partitions.size,
        "engine.Checkpoint.resume_noop_s" -> o.noopS,
        "engine.ViolationStore.files_written" -> files.size.toDouble,
        "engine.ViolationStore.bytes_written" -> files.map(_.length).sum.toDouble,
        "report.ReportOps.rows" -> report.size.toDouble,
        "report.ReportOps.report_s" -> o.reportS)
      deleteTree(new File(o.dir))
      result
    }
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.exists) Seq(f) else Nil

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  // ---- the streaming leg of fullpass_stream ---------------------------------

  /** Stateful streaming uniqueness over the token table as a bounded file
    * stream, default trigger size, fresh checkpoint each time.
    */
  final class StreamUnique(spark: SparkSession, paths: Inputs.Paths)
      extends Workload {
    val rowsPerOp: Long = Inputs.Rows
    val nominalOpSeconds: Double = 2.5

    def op(span: Spans, index: Int): Any =
      span("streaming.StreamingValidation.runUniqueAvailableNow")(
        StreamingValidation.runUniqueAvailableNow(spark, paths.tokens)
          .collect().toSeq)

    private lazy val expected: Seq[Row] =
      Validator.uniqueViolations(spark.read.parquet(paths.tokens),
          UniqueRule("unique_doc_id", "doc_id", severity = "warning"))
        .select(col("doc_id"),
          regexp_extract(col("detail"), "occurs ([0-9]+) times", 1)
            .cast("bigint").as("cnt"),
          col("source"))
        .collect().toSeq

    def check(out: Any): Either[String, Map[String, Double]] = {
      val got = out.asInstanceOf[Seq[Row]]
      sameRows("final emissions", got, expected).map(_ =>
        Map("engine.Validator.violation_rows" -> got.size.toDouble))
    }
  }
}
