package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rules.RuleSet

/** A per-rule tolerance: the rule FAILS the suite when its violation rate
  * exceeds `maxRate` (0.0 = zero-tolerance). The reference treats every
  * violation as report material but gates DELIVERY on severity
  * (report_generation filters by severity level); an expectation suite is
  * the same idea made quantitative — a data-quality SLA per rule.
  */
final case class Expectation(ruleId: String, maxRate: Double)

/** Deequ-style verification suite over an already-computed violations
  * frame: per rule — violation count, corpus rate, tolerance, PASS/FAIL.
  *
  * The suite is anchored on the EXPECTATION list, not the violations frame,
  * so a rule with zero violations still reports (rate 0, PASS) instead of
  * silently vanishing — absence of evidence must be a visible green row,
  * or a rule that stopped matching (wrong routing, renamed column) reads
  * as healthy.
  *
  * Scale shape: reuses the engine's single rule pass (the caller hands in
  * `detailed`); the suite itself is a rule-cardinality aggregate joined to
  * a rule-cardinality literal frame — nothing here rescans the corpus. The
  * row count arrives as a parameter for the same reason
  * [[Validator.summaryFromCounts]] takes one: the pipeline usually already
  * counted rows (manifest metrics), and 100 TB must not be re-scanned to
  * divide by its size.
  */
object Expectations {

  /** Default SLA for [[graft.rules.RuleSet.default]]: zero-tolerance on
    * fatals, small budgets on data-shape errors, looser on warnings.
    */
  def defaultSuite(ruleSet: RuleSet): Seq[Expectation] =
    ruleSet.rules.map(r => Expectation(r.id, defaultRate(r.severity)))

  /** The routed-lifecycle form: one expectation per rule across the
    * routing's full rule-set union (a rule appearing in several sets keeps
    * its strictest severity-derived tolerance).
    */
  def defaultSuite(routing: graft.rules.RuleSetLoader.Routing)
      : Seq[Expectation] =
    routing.ruleSets.values.flatMap(_.rules)
      .groupBy(_.id).toSeq.sortBy(_._1)
      .map { case (id, rs) =>
        Expectation(id, rs.map(r => defaultRate(r.severity)).min)
      }

  private def defaultRate(severity: String): Double = severity match {
    case "fatal" => 0.0
    case "error" => 0.005
    case _       => 0.10
  }

  def suite(spark: SparkSession, detailed: DataFrame, nRows: Long,
      expectations: Seq[Expectation]): DataFrame = {
    import spark.implicits._
    val exp = expectations.toDF("rule_id", "max_rate")
    val counts = detailed.groupBy("rule_id")
      .agg(count(lit(1)).as("n_violations"))
    val rate = coalesce(col("n_violations"), lit(0L)).cast("double") /
      lit(nRows.toDouble)
    exp.join(counts, Seq("rule_id"), "left")
      .select(
        col("rule_id"),
        coalesce(col("n_violations"), lit(0L)).as("n_violations"),
        lit(nRows).as("n_rows"),
        round(rate, 6).as("violation_rate"),
        col("max_rate"),
        when(rate <= col("max_rate"), "PASS").otherwise("FAIL")
          .as("status"))
  }
}
