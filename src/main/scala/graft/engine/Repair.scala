package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.rules._

/** Rule-driven AUTO-REPAIR: the remediation half of a validation engine —
  * where [[Quarantine]] routes violating rows out, repair fixes the
  * violations that have a mechanical, information-preserving fix and
  * keeps the rows. The reference stops at reporting (a human edits the
  * FHIR payloads); at 10^12 sequences the mechanical class (a stale
  * length field, an out-of-band scalar) must self-heal or the quarantine
  * bucket fills with rows nobody will hand-edit.
  *
  * Repairable rule types and their fixes:
  *  - [[LengthConsistencyRule]]  → set the length column to `size(array)`
  *  - [[CharLengthConsistencyRule]] → set it to `length(text)`
  *  - [[RangeRule]]              → clamp into [lo, hi)
  *  - [[FixedValueRule]]         → set the expected value
  * Not auto-repairable (no mechanical fix): NotNull (nothing to restore),
  * Referential (cannot guess a member), TokenBounds (which element?),
  * Unique (dedup is its own operator, [[graft.operators.DedupOps]]).
  *
  * Semantics: fixes apply IN RULE ORDER, each seeing the previous fixes
  * (a clamp after a length fix clamps the FIXED value) — the fold is a
  * chain of `when` projections, so the whole repair is ONE codegen'd
  * scan-stage pass; `_repairs` records the ids that fired per row.
  * Closure: re-validating the repaired table against the repairable
  * rules yields zero violations PROVIDED the rules are pairwise
  * consistent (no two rules constrain the same column incompatibly —
  * e.g. "length must equal size(tokens)" and "length < 25" conflict on
  * any 25+-token row; the later fix wins and the earlier rule re-fires).
  * RepairSpec pins closure for a consistent set; the audit counts are
  * correct either way (each records what ITS step fixed).
  */
object Repair {

  /** The subset of `rules` this module can fix, in input order. */
  def repairable(rules: Seq[Rule]): Seq[Rule] = rules.filter {
    case _: LengthConsistencyRule | _: CharLengthConsistencyRule |
         _: RangeRule | _: FixedValueRule => true
    case _ => false
  }

  /** (target column, fixed-value expression); the violated predicate is
    * the rule compiler's own ([[RuleCompiler.compileRow]]).
    */
  private def fix(rule: Rule): (String, Column) = rule match {
    case LengthConsistencyRule(_, arr, len, _, _) =>
      (len, size(col(arr)).cast("int"))
    case CharLengthConsistencyRule(_, txt, len, _, _) => (len, length(col(txt)))
    case RangeRule(_, c, lo, hi, _, _) =>
      (c, when(col(c) < lit(lo), lit(lo)).otherwise(lit(hi - 1)))
    case FixedValueRule(_, c, expected, _, _) => (c, lit(expected))
    case r => throw new IllegalArgumentException(
      s"rule ${r.id} (${r.getClass.getSimpleName}) is not auto-repairable")
  }

  /** The input with repairable violations FIXED and a `_repairs` column
    * listing the rule ids applied to each row (empty array = untouched).
    */
  def repaired(df: DataFrame, rules: Seq[Rule]): DataFrame =
    repairedGated(df, repairable(rules).map(r => (r, None)))

  /** Repair under per-source rule-set ROUTING — each set's repairable
    * rules fire only on the rows routed to that set (same null-safe gate
    * semantics as [[Validator.violations]]: a NULL source belongs to
    * the default set). Still one codegen'd projection chain: the gates are
    * conjuncts on the fix predicates, not extra passes.
    */
  def repairedRouted(df: DataFrame,
      routing: graft.rules.RuleSetLoader.Routing): DataFrame = {
    val routedTo: Map[String, Seq[String]] =
      routing.routing.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    val routedElsewhere: Seq[String] = routing.routing.collect {
      case (src, s) if s != routing.defaultRuleSet => src
    }.toSeq.sorted
    def gateFor(setName: String): Option[Column] =
      if (setName == routing.defaultRuleSet) {
        if (routedElsewhere.isEmpty) None
        else Some(coalesce(!col("source").isin(routedElsewhere: _*), lit(true)))
      } else Some(col("source").isin(routedTo.getOrElse(setName, Nil): _*))
    val sets = routing.ruleSets.toSeq.sortBy(_._1).filter { case (name, _) =>
      name == routing.defaultRuleSet || routedTo.contains(name)
    }
    repairedGated(df, sets.flatMap { case (name, rs) =>
      repairable(rs.rules).map(r => (r, gateFor(name)))
    })
  }

  private def repairedGated(df: DataFrame,
      rules: Seq[(Rule, Option[Column])]): DataFrame = {
    val start = df.withColumn("_repairs",
      array().cast("array<string>"))
    rules.foldLeft(start) { case (acc, (rule, setGate)) =>
      val (target, value) = fix(rule)
      val violated0 = RuleCompiler.compileRow(rule).violated
      val violated = setGate.map(_ && violated0).getOrElse(violated0)
      // the fold stays column-level: each step's predicate reads the
      // PREVIOUS step's columns, so Catalyst collapses the chain into one
      // projection (no extra scan per rule)
      val typed = value.cast(acc.schema(target).dataType)
      acc
        .withColumn("_repairs",
          when(violated, array_union(col("_repairs"),
            array(lit(rule.id)))).otherwise(col("_repairs")))
        .withColumn(target, when(violated, typed).otherwise(col(target)))
    }
  }

  /** Per-rule repair counts — the audit a lineage system records beside
    * the manifest. One aggregate over the repaired frame.
    */
  def audit(df: DataFrame, rules: Seq[Rule]): DataFrame =
    repaired(df, rules)
      .select(explode(col("_repairs")).as("rule_id"))
      .groupBy("rule_id").agg(count(lit(1)).as("n_repaired"))
}
