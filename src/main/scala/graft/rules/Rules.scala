package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative rule AST — the Spark-native replacement for the reference's
  * StructureDefinition profiles (rule sets) + validation_mapping.json routing
  * (/root/reference/fhir_profiles/FDPG_Einwilligung.json:16-28,
  * /root/reference/maps/validation_mapping.json).
  *
  * Row-level rules compile to Catalyst `Column` predicates evaluated in a
  * single whole-stage-codegen pass; dataset-level rules compile in
  * [[graft.engine.Validator.violations]]: uniqueness to an aggregate,
  * referential to a predicate in the same pass (small dimension) or a
  * sort-merge anti-join (large dimension).
  */
sealed trait Rule {
  def id: String
  def severity: String
  /** Restrict the rule to one `source` (rule-set dispatch — the analogue of
    * profile routing, /root/reference/maps/validation_mapping.json:1-838).
    * None = applies to every source.
    */
  def appliesTo: Option[String]
}

/** `min: 1` / required-element analogue: column must be non-null
  * (reference diagnostics "minimum required = 1, but only found 0",
  * /root/reference/extraction/test/test_profiles.py:35-37).
  */
final case class NotNullRule(
    id: String, column: String,
    severity: String = "error", appliesTo: Option[String] = None) extends Rule

/** Fixed-value analogue (reference "Value is 'X' but must be 'Y'",
  * test_profiles.py:206-215) specialized to the north-star invariant
  * `size(tokens) === n_tok`.
  */
final case class LengthConsistencyRule(
    id: String, arrayColumn: String, lengthColumn: String,
    severity: String = "error", appliesTo: Option[String] = None) extends Rule

/** Slicing-check analogue (filtered-array cardinality, test_profiles.py:28-39)
  * specialized to token-vocabulary bounds: every element in [lo, hi).
  */
final case class TokenBoundsRule(
    id: String, arrayColumn: String, lo: Int, hi: Int,
    severity: String = "error", appliesTo: Option[String] = None) extends Rule

/** String-length analogue of [[LengthConsistencyRule]]: a declared length
  * column must equal the CHARACTER length of a string column — the
  * documents-table form of the reference's fixed-value cross-field checks
  * (a stored `n_chars` disagreeing with the text marks a truncated or
  * re-encoded payload).
  */
final case class CharLengthConsistencyRule(
    id: String, textColumn: String, lengthColumn: String,
    severity: String = "error", appliesTo: Option[String] = None) extends Rule

/** Scalar range check (value-range analogue, SURVEY.md §2 row 14). */
final case class RangeRule(
    id: String, column: String, lo: Long, hi: Long,
    severity: String = "error", appliesTo: Option[String] = None) extends Rule

/** Range check whose bounds come from COLUMNS (joined from a parameter
  * dimension) instead of literals — the building block of parameterized
  * rule-set routing ([[graft.engine.Validator.violations]]): one
  * codegen'd template evaluates for every routed source, with per-source
  * bounds supplied by a broadcast join. NULL bounds (unrouted source) mean
  * the rule does not apply to the row.
  */
final case class ColumnBoundsRule(
    id: String, column: String, loColumn: String, hiColumn: String,
    severity: String = "error", appliesTo: Option[String] = None) extends Rule

/** Fixed-value check on a scalar column. */
final case class FixedValueRule(
    id: String, column: String, expected: String,
    severity: String = "error", appliesTo: Option[String] = None) extends Rule

/** Conditional (invariant-style) rule — the analogue of FHIR constraint
  * invariants whose expression guards a requirement with a premise
  * ("if X then Y"; the reference's profiles carry such constraints inside
  * StructureDefinition snapshots). When `whenColumn == whenEquals`, the
  * wrapped row-level rule must hold; other rows are exempt. Compiles to a
  * single conjunctive predicate — same whole-stage-codegen pass as every
  * other row rule, no extra scan for the premise.
  */
final case class ConditionalRule(
    id: String, whenColumn: String, whenEquals: String, inner: Rule,
    severity: String = "error", appliesTo: Option[String] = None) extends Rule

/** Value-set membership (reference "not in the value set",
  * test_profiles.py:183-192): `column` must appear in the dimension named
  * `dimension`, resolved by [[graft.engine.Validator.violations]]. A
  * dimension of at most 10,000 values is collected once and compiles to a
  * `NOT IN` predicate in the shared row pass
  * ([[RuleCompiler.compileMembership]]); a larger one compiles to a
  * `merge`-hinted left-anti join, never a broadcast. A NULL key violates on
  * both paths, and both emit the same detail.
  */
final case class ReferentialRule(
    id: String, column: String, dimension: String,
    severity: String = "error", appliesTo: Option[String] = None) extends Rule

/** Uniqueness of a key column (north-star rule over doc_id), or of a
  * COMPOSITE key when `moreColumns` is non-empty — the reference's dedup
  * identity is itself composite (severity+code+diagnostics+location,
  * /root/reference/extraction/IssueSet.py:9-26). The aggregate groups by
  * the full column set; one violation row per duplicated key tuple.
  */
final case class UniqueRule(
    id: String, column: String,
    severity: String = "error", appliesTo: Option[String] = None,
    moreColumns: Seq[String] = Nil) extends Rule {
  def keyColumns: Seq[String] = column +: moreColumns
}

/** A named rule set — the engine analogue of one StructureDefinition. */
final case class RuleSet(name: String, rules: Seq[Rule]) {
  def rowRules: Seq[Rule] = rules.filter {
    case _: NotNullRule | _: LengthConsistencyRule | _: TokenBoundsRule |
         _: RangeRule | _: FixedValueRule | _: ColumnBoundsRule |
         _: CharLengthConsistencyRule => true
    // a conditional wrapping a non-row rule must FAIL in compileRow, not be
    // silently dropped here (same policy as the loader's malformed-set check)
    case _: ConditionalRule => true
    case _ => false
  }
  def referentialRules: Seq[ReferentialRule] =
    rules.collect { case r: ReferentialRule => r }
  def uniqueRules: Seq[UniqueRule] =
    rules.collect { case r: UniqueRule => r }
}

object RuleSet {
  /** The default full rule set over the token table — the engine's analogue
    * of the reference's per-type profile bundle.
    */
  def default(vocab: Int): RuleSet = RuleSet("default", Seq(
    NotNullRule("not_null_tokens", "tokens", severity = "fatal"),
    NotNullRule("not_null_source", "source", severity = "fatal"),
    LengthConsistencyRule("len_consistency", "tokens", "n_tok"),
    TokenBoundsRule("token_bounds", "tokens", 0, vocab, severity = "warning"),
    RangeRule("n_tok_range", "n_tok", 1, 1 << 20, severity = "warning"),
    ReferentialRule("ref_source", "source", "allowed_sources"),
    UniqueRule("unique_doc_id", "doc_id", severity = "warning")))
}

/** A compiled row-level rule: `violated` is a Catalyst predicate (true ⇒ the
  * row violates the rule), `detail` the diagnostics string expression.
  */
final case class CompiledRowRule(
    id: String, severity: String, violated: Column, detail: Column)

object RuleCompiler {

  /** Gate a predicate by the rule's source restriction (rule-set dispatch as
    * a codegen'd `when`, not a per-source scan).
    */
  private def gate(rule: Rule, pred: Column): Column = rule.appliesTo match {
    case Some(s) => col("source") === lit(s) && pred
    case None    => pred
  }

  /** Compile a row-level rule to predicate + detail columns. */
  def compileRow(rule: Rule): CompiledRowRule = rule match {
    case NotNullRule(id, c, sev, _) =>
      CompiledRowRule(id, sev, gate(rule, col(c).isNull),
        lit(s"$c is null: minimum required = 1, but only found 0"))
    case LengthConsistencyRule(id, arr, len, sev, _) =>
      CompiledRowRule(id, sev,
        gate(rule, col(arr).isNotNull && size(col(arr)) =!= col(len)),
        concat(lit(s"$len="), col(len).cast("string"),
          lit(" size="), size(col(arr)).cast("string")))
    case CharLengthConsistencyRule(id, txt, len, sev, _) =>
      CompiledRowRule(id, sev,
        gate(rule, col(txt).isNotNull && length(col(txt)) =!= col(len)),
        concat(lit(s"$len="), col(len).cast("string"),
          lit(" length="), length(col(txt)).cast("string")))
    case TokenBoundsRule(id, arr, lo, hi, sev, _) =>
      // array_min/array_max, NOT `forall` — a higher-order function is
      // CodegenFallback and would bar the whole single-scan rule pass from
      // whole-stage codegen. min<lo ∨ max≥hi ⟺ ∃ element out of [lo,hi)
      // (arrays carry no null elements in this schema; empty ⇒ null ⇒ no
      // violation, matching forall-on-empty = true).
      CompiledRowRule(id, sev,
        gate(rule, col(arr).isNotNull &&
          (array_min(col(arr)) < lit(lo) || array_max(col(arr)) >= lit(hi))),
        lit(s"token out of [$lo,$hi)"))
    case RangeRule(id, c, lo, hi, sev, _) =>
      CompiledRowRule(id, sev,
        gate(rule, col(c).isNotNull && (col(c) < lit(lo) || col(c) >= lit(hi))),
        concat(lit(s"$c="), col(c).cast("string"), lit(s" out of [$lo,$hi)")))
    case ColumnBoundsRule(id, c, loCol, hiCol, sev, _) =>
      CompiledRowRule(id, sev,
        gate(rule, col(c).isNotNull &&
          (col(c) < col(loCol) || col(c) >= col(hiCol))),
        concat(lit(s"$c="), col(c).cast("string"),
          lit(" out of ["), col(loCol).cast("string"), lit(","),
          col(hiCol).cast("string"), lit(")")))
    case FixedValueRule(id, c, expected, sev, _) =>
      CompiledRowRule(id, sev,
        gate(rule, col(c).isNotNull && col(c) =!= lit(expected)),
        concat(lit("Value is '"), col(c).cast("string"),
          lit(s"' but must be '$expected'")))
    case ConditionalRule(id, whenCol, whenVal, inner, sev, _) =>
      // premise ∧ inner-violation in ONE predicate; the conditional's own
      // id/severity/appliesTo win over the wrapped rule's
      val compiled = compileRow(inner)
      CompiledRowRule(id, sev,
        gate(rule, col(whenCol) === lit(whenVal) && compiled.violated),
        concat(lit(s"when $whenCol='$whenVal': "), compiled.detail))
    case other =>
      throw new IllegalArgumentException(s"not a row-level rule: $other")
  }

  /** A referential rule over its dimension's collected non-null `values`,
    * as a row rule for the shared pass. A NULL key violates: it can be in
    * no value set, exactly as under the anti-join form.
    */
  def compileMembership(rule: ReferentialRule, values: Seq[Any]): CompiledRowRule =
    CompiledRowRule(rule.id, rule.severity,
      gate(rule, col(rule.column).isNull || !col(rule.column).isin(values: _*)),
      membershipDetail(rule))

  /** The detail of a referential violation, `col='v' not in dim`, on both
    * the predicate and the anti-join path (NULL for a NULL key).
    */
  def membershipDetail(rule: ReferentialRule): Column =
    concat(lit(s"${rule.column}='"), col(rule.column).cast("string"),
      lit(s"' not in ${rule.dimension}"))
}

/** JSON rule-set loader — mirrors the shape of the reference's
  * validation_mapping.json (source → rule-set routing) plus inline rule
  * definitions. Parsed with json4s (ships with Spark).
  *
  * {{{
  * { "ruleSets": { "default": [ {"type":"notNull","id":"nn","column":"tokens"}, ... ] },
  *   "routing":  { "A": "default" },
  *   "defaultRuleSet": "default" }
  * }}}
  */
object RuleSetLoader {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  final case class Routing(
      ruleSets: Map[String, RuleSet],
      routing: Map[String, String],
      defaultRuleSet: String)

  private def str(v: JValue, f: String): String =
    (v \ f) match { case JString(s) => s; case x => x.values.toString }
  private def strOpt(v: JValue, f: String): Option[String] =
    (v \ f) match { case JString(s) => Some(s); case _ => None }
  private def long(v: JValue, f: String, dflt: Long): Long =
    (v \ f) match { case JInt(i) => i.toLong; case JLong(l) => l; case _ => dflt }

  def parseRule(v: JValue): Rule = {
    val id = str(v, "id")
    val sev = strOpt(v, "severity").getOrElse("error")
    val app = strOpt(v, "appliesTo")
    str(v, "type") match {
      case "notNull" => NotNullRule(id, str(v, "column"), sev, app)
      case "lengthConsistency" =>
        LengthConsistencyRule(id, str(v, "arrayColumn"), str(v, "lengthColumn"), sev, app)
      case "charLengthConsistency" =>
        CharLengthConsistencyRule(id, str(v, "textColumn"),
          str(v, "lengthColumn"), sev, app)
      case "tokenBounds" =>
        TokenBoundsRule(id, str(v, "arrayColumn"),
          long(v, "lo", 0).toInt, long(v, "hi", Int.MaxValue).toInt, sev, app)
      case "range" =>
        RangeRule(id, str(v, "column"), long(v, "lo", Long.MinValue),
          long(v, "hi", Long.MaxValue), sev, app)
      case "fixedValue" => FixedValueRule(id, str(v, "column"), str(v, "expected"), sev, app)
      case "conditional" =>
        ConditionalRule(id, str(v, "whenColumn"), str(v, "whenEquals"),
          parseRule(v \ "rule"), sev, app)
      case "referential" => ReferentialRule(id, str(v, "column"), str(v, "dimension"), sev, app)
      case "unique" =>
        // optional "moreColumns": ["c2", "c3"] → composite-key uniqueness
        val more = (v \ "moreColumns") match {
          case JArray(cs) => cs.map {
            case JString(s) => s
            case other => throw new IllegalArgumentException(
              s"unique rule '$id': moreColumns entries must be strings, got: $other")
          }
          case _ => Nil
        }
        UniqueRule(id, str(v, "column"), sev, app, more)
      case t => throw new IllegalArgumentException(s"unknown rule type: $t")
    }
  }

  def parse(json: String): Routing = {
    val root = JsonMethods.parse(json)
    val sets = (root \ "ruleSets") match {
      case JObject(fields) => fields.map { case (name, JArray(rs)) =>
        name -> RuleSet(name, rs.map(parseRule))
      // A malformed rule-set body must FAIL, never silently become an empty
      // rule set: a typo'd config that validates nothing and reports zero
      // violations is the exact inverse of the engine's containment policy
      // (errors surface as violation rows, Validator.violationsContained).
      case (name, other) => throw new IllegalArgumentException(
        s"rule set '$name' must be a JSON array of rules, got: $other")
      }.toMap
      case _ => Map.empty[String, RuleSet]
    }
    val routing = (root \ "routing") match {
      case JObject(fields) => fields.collect { case (k, JString(s)) => k -> s }.toMap
      case _ => Map.empty[String, String]
    }
    val dflt = strOpt(root, "defaultRuleSet").getOrElse("default")
    Routing(sets, routing, dflt)
  }
}
