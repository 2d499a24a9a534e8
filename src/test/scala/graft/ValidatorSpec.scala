package graft

import org.apache.spark.sql.functions._
import graft.engine.Validator
import graft.model.TokenRow
import graft.rules._

/** Golden per-rule fixtures — the engine analogue of the reference's
  * pass/fail fixture pairs with exact expected diagnostics
  * (/root/reference/extraction/test/test_profiles.py).
  */
class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    TokenRow("ok-1", Array(1, 2, 3), 3, "A"),          // passes everything
    TokenRow("len-1", Array(1, 2), 3, "A"),            // length mismatch
    TokenRow("null-1", null, 2, "N"),                  // null tokens
    TokenRow("bound-1", Array(1, 50000), 2, "R"),      // token out of vocab
    TokenRow("dup-1", Array(7), 1, "A"),               // duplicate pair…
    TokenRow("dup-1", Array(8), 1, "N"),
    TokenRow("ref-1", Array(9), 1, "bogus")            // unknown source
  ).toDF

  private val ruleSet = RuleSet.default(50000)
  private def dims = Map("allowed_sources" ->
    graft.sources.TokenTable.allowedDim(spark))

  test("full rule set emits exactly the expected violation rows") {
    val got = Validator.canonical(
        Validator.violations(fixture, ruleSet, dims))
      .as[(String, String, String)].collect().toSet
    val expected = Set(
      ("len-1", "len_consistency", "n_tok=3 size=2"),
      ("null-1", "not_null_tokens",
        "tokens is null: minimum required = 1, but only found 0"),
      ("bound-1", "token_bounds", "token out of [0,50000)"),
      ("dup-1", "unique_doc_id", "doc_id occurs 2 times"),
      ("ref-1", "ref_source", "source='bogus' not in allowed_sources"))
    assert(got === expected)
  }

  test("per-source summary marks only clean sources as pass") {
    val v = Validator.violations(fixture, ruleSet, dims)
    // every source in the fixture has at least one violation
    val byName = Validator.summary(fixture, v).collect()
      .map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(byName === Map("A" -> false, "N" -> false, "R" -> false,
      "bogus" -> false))
    val clean = Seq(TokenRow("c1", Array(1), 1, "A")).toDF
    val vc = Validator.violations(clean, ruleSet, dims)
    val sc = Validator.summary(clean, vc).collect().head
    assert(sc.getString(0) == "A" && sc.getLong(1) == 1L &&
      sc.getLong(2) == 0L && sc.getBoolean(3))
  }

  test("violations are invariant under repartitioning and row order") {
    val base = Validator.canonical(
      Validator.violations(fixture, ruleSet, dims)).collect().toSet
    val shuffled = fixture.repartition(7).sortWithinPartitions(rand(seed = 1))
    val got = Validator.canonical(
      Validator.violations(shuffled, ruleSet, dims)).collect().toSet
    assert(got === base)
  }

  test("dedup aggregate counts and generalizes like IssueSet") {
    val v = Validator.violations(fixture, ruleSet, dims)
    val d = Validator.dedupIssues(v).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(d.contains(("ref_source", "source='?' not in allowed_sources", 1L)))
    assert(d.exists { case (id, _, _) => id == "len_consistency" })
  }

  test("rule-set dispatch: appliesTo restricts a rule to one source") {
    val rs = RuleSet("routed", Seq(
      LengthConsistencyRule("len_a_only", "tokens", "n_tok",
        appliesTo = Some("A"))))
    val df = Seq(
      TokenRow("a", Array(1), 2, "A"),   // violates, source matches
      TokenRow("n", Array(1), 2, "N")    // violates but not routed
    ).toDF
    val got = Validator.violations(df, rs, Map.empty)
      .select("doc_id").as[String].collect().toSet
    assert(got === Set("a"))
  }

  test("appliesTo restricts dataset rules: unique, small and big dimension") {
    val rs = RuleSet("scoped", Seq(
      UniqueRule("uniq_a", "doc_id", appliesTo = Some("A")),
      ReferentialRule("ref_small_a", "doc_id", "docs_small",
        appliesTo = Some("A")),
      ReferentialRule("ref_big_a", "doc_id", "docs_big",
        appliesTo = Some("A"))))
    val df = Seq(
      TokenRow("1", Array(1), 1, "A"),
      TokenRow("1", Array(1), 1, "A"),        // duplicate in A: fires
      TokenRow("900000", Array(1), 1, "A"),   // in neither dim: fires twice
      TokenRow("2", Array(1), 1, "B"),
      TokenRow("2", Array(1), 1, "B"),        // duplicate in B: exempt
      TokenRow("900001", Array(1), 1, "B")    // in neither dim: exempt
    ).toDF
    // the small dimension compiles into the row pass; the big one (past
    // the 10k-value collect limit) stays an anti-join
    val dims = Map(
      "docs_small" -> Seq("1", "2", "3").toDF("doc_id"),
      "docs_big" -> spark.range(1, 20001)
        .select(col("id").cast("string").as("doc_id")))
    val got = Validator.violations(df, rs, dims)
      .select("doc_id", "rule_id", "source")
      .as[(String, String, String)].collect().toSet
    assert(got === Set(
      ("1", "uniq_a", "A"),
      ("900000", "ref_small_a", "A"),
      ("900000", "ref_big_a", "A")))
  }

  test("routed dispatch: each source validated by its routed set only") {
    val routing = RuleSetLoader.parse(
      """{ "ruleSets": {
        |   "strict": [
        |     {"type":"tokenBounds","id":"token_bounds","arrayColumn":"tokens","lo":0,"hi":50000,"severity":"warning"},
        |     {"type":"unique","id":"unique_doc_id","column":"doc_id","severity":"warning"},
        |     {"type":"referential","id":"ref_source","column":"source","dimension":"allowed_sources"}
        |   ],
        |   "lenient": [
        |     {"type":"lengthConsistency","id":"len_consistency","arrayColumn":"tokens","lengthColumn":"n_tok"}
        |   ]},
        |  "routing": { "A": "lenient" },
        |  "defaultRuleSet": "strict" }""".stripMargin)
    val got = Validator.canonical(
        Validator.violations(fixture, routing, dims))
      .as[(String, String, String)].collect().toSet
    // A rows: lenient only → len-1 fires, dup-1/dup-1(A) exempt from unique;
    // others: strict only → bound-1 (R), ref-1 (bogus); the dup pair is
    // split across slices (A routed away), so NO uniqueness violation
    val expected = Set(
      ("len-1", "len_consistency", "n_tok=3 size=2"),
      ("bound-1", "token_bounds", "token out of [0,50000)"),
      ("ref-1", "ref_source", "source='bogus' not in allowed_sources"))
    assert(got === expected)
  }

  /** `rule` alone through the one rule compiler. */
  private def refViolations(df: org.apache.spark.sql.DataFrame,
      rule: ReferentialRule, dim: org.apache.spark.sql.DataFrame) =
    Validator.violations(df, RuleSet("ref", Seq(rule)),
      Map(rule.dimension -> dim))

  test("small-dim referential compiles to a pushable predicate; null key violates") {
    import graft.sources.TokenTable
    val df = Seq(
      TokenRow("ok", Array(1), 1, "A"),
      TokenRow("bad", Array(1), 1, "nope"),
      TokenRow("nul", Array(1), 1, null)).toDF
    val v = refViolations(df,
      ReferentialRule("ref_source", "source", "allowed_sources"),
      TokenTable.allowedDim(spark))
    // null keys are violations, same as the anti-join semantics
    assert(v.select("doc_id").as[String].collect().toSet === Set("bad", "nul"))
    assert(v.where(col("doc_id") === "bad").select("detail").as[String]
      .collect().toSeq === Seq("source='nope' not in allowed_sources"))
    // and the plan is a predicate, not a join (pruning-capable at the scan)
    val plan = v.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(1200))
  }

  test("a NULL dim entry never disarms the compiled membership predicate") {
    // `!isin(values)` with a null in the literal list is NULL for every
    // non-member — where() would drop ALL violations and the rule silently
    // never fires. Null entries must be filtered before compilation (they
    // can't whitelist anything under the anti-join semantics either).
    val df = Seq(
      TokenRow("ok", Array(1), 1, "A"),
      TokenRow("bad", Array(1), 1, "nope")).toDF
    val dimWithNull = Seq(Some("A"), Some("N"), Some("R"), None)
      .toDF("allowed_source")
    val v = refViolations(df,
      ReferentialRule("ref_source", "source", "allowed_sources"), dimWithNull)
    assert(v.select("doc_id").as[String].collect().toSet === Set("bad"))
  }

  test("big-dimension referential: shuffle join, never broadcast") {
    // above 10,000 values the dimension is too big for a literal predicate:
    // the merge hint must pin a sort-merge join regardless of the
    // optimizer's size estimate
    val dim = spark.range(0, 20000).select(col("id").as("allowed_key"))
    val df = fixture.withColumn("okey", lit(50000L)) // nothing allowed
    val rule = ReferentialRule("ref_big", "okey", "allowed_keys")
    val v = refViolations(df, rule, dim)
    val plan = v.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(1500))
    assert(!plan.contains("BroadcastExchange"), plan.take(1500))
    assert(v.count() === fixture.count()) // every row violates
    // the same detail as the predicate form
    assert(v.select("detail").distinct().as[String].collect().toSeq ===
      Seq("okey='50000' not in allowed_keys"))
    // and allowed keys produce no violations
    val ok = refViolations(fixture.withColumn("okey", lit(7L)), rule, dim)
    assert(ok.count() === 0)
  }

  test("a dimension above 10k values is collected once per violations call") {
    val dim = spark.range(0, 20000).select(col("id").as("allowed_key"))
    val df = fixture.withColumn("okey", lit(7L))
    val rules = RuleSet("two_refs", Seq(
      ReferentialRule("ref_a", "okey", "allowed_keys"),
      ReferentialRule("ref_b", "okey", "allowed_keys", severity = "warning")))
    // the compiler's collect is a limit-collect, which can take more than
    // one job: count the jobs of one such collect of the same dimension
    val oneCollect = jobsIn(dim.limit(10001).collect())
    val build = jobsIn(Validator.violations(df, rules,
      Map("allowed_keys" -> dim)))
    assert(oneCollect >= 1)
    assert(build === oneCollect, s"$build build jobs vs $oneCollect per collect")
  }

  test("rule-set JSON loader round-trips routing and rules") {
    val json =
      """{"ruleSets": {"default": [
        |   {"type":"notNull","id":"nn","column":"tokens"},
        |   {"type":"lengthConsistency","id":"lc","arrayColumn":"tokens","lengthColumn":"n_tok"},
        |   {"type":"tokenBounds","id":"tb","arrayColumn":"tokens","lo":0,"hi":100},
        |   {"type":"referential","id":"rf","column":"source","dimension":"allowed_sources"},
        |   {"type":"unique","id":"uq","column":"doc_id"}],
        |  "strict": [{"type":"range","id":"rg","column":"n_tok","lo":1,"hi":10,"severity":"warning"}]},
        | "routing": {"A": "strict"},
        | "defaultRuleSet": "default"}""".stripMargin
    val routing = RuleSetLoader.parse(json)
    assert(routing.routing === Map("A" -> "strict"))
    assert(routing.defaultRuleSet == "default")
    assert(routing.ruleSets("default").rules.size == 5)
    assert(routing.ruleSets("strict").rules.head ==
      RangeRule("rg", "n_tok", 1, 10, "warning", None))
  }

  test("charLengthConsistency: string-length rule compiles and loads") {
    val s = spark
    import s.implicits._
    val d = Seq((1L, "abcd", 4, "A"), (2L, "abc", 9, "A"),
        (3L, null.asInstanceOf[String], 5, "N"))
      .toDF("doc_id", "text", "n_chars", "source")
    val routing = RuleSetLoader.parse(
      """{"ruleSets": {"d": [{"type":"charLengthConsistency","id":"cm",
        |  "textColumn":"text","lengthColumn":"n_chars"}]},
        | "routing": {}, "defaultRuleSet": "d"}""".stripMargin)
    val v = Validator.violations(d, routing.ruleSets("d"), Map.empty)
      .select("doc_id", "rule_id").as[(String, String)].collect().toSeq
    // only the mismatching non-null row fires; null text is a NotNull
    // concern, not a length one
    assert(v === Seq(("2", "cm")))
  }

  test("malformed rule-set body fails loudly, never an empty rule set") {
    val bad = """{"ruleSets": {"oops": {"type":"notNull"}},
                | "routing": {}, "defaultRuleSet": "oops"}""".stripMargin
    val e = intercept[IllegalArgumentException](RuleSetLoader.parse(bad))
    assert(e.getMessage.contains("oops"))
  }

  test("routing to a nonexistent rule set fails fast") {
    val routing = RuleSetLoader.parse(
      """{"ruleSets": {"default": [{"type":"notNull","id":"nn","column":"tokens"}]},
        | "routing": {"A": "no_such_set"}, "defaultRuleSet": "default"}""".stripMargin)
    val e = intercept[IllegalArgumentException](
      Validator.violations(fixture, routing, dims))
    assert(e.getMessage.contains("no_such_set"))
    // a routed family with no `defaultRuleSet` key: the loader names the
    // default "default", which is absent — the unrouted sources would be
    // validated by no rules at all
    val noDefault = RuleSetLoader.parse(
      """{"ruleSets": {"strict": [{"type":"notNull","id":"nn","column":"tokens"}]},
        | "routing": {"A": "strict"}}""".stripMargin)
    val e2 = intercept[IllegalArgumentException](
      Validator.violations(fixture, noDefault, dims))
    assert(e2.getMessage.contains("defaultRuleSet"))
  }

  test("routed dispatch: NULL source rows fall to the default rule set") {
    val routing = RuleSetLoader.parse(
      """{ "ruleSets": {
        |   "strict": [
        |     {"type":"notNull","id":"not_null_source","column":"source","severity":"fatal"},
        |     {"type":"notNull","id":"not_null_tokens","column":"tokens","severity":"fatal"}
        |   ],
        |   "lenient": [
        |     {"type":"lengthConsistency","id":"len_consistency","arrayColumn":"tokens","lengthColumn":"n_tok"}
        |   ]},
        |  "routing": { "A": "lenient" },
        |  "defaultRuleSet": "strict" }""".stripMargin)
    val df = Seq(
      TokenRow("null-src", Array(1), 1, null), // must hit strict's notNull
      TokenRow("a-1", Array(1), 2, "A"),       // lenient: len mismatch
      TokenRow("n-null", null, 1, "N")         // strict: null tokens
    ).toDF
    val got = Validator.canonical(
        Validator.violations(df, routing, dims))
      .as[(String, String, String)].collect().toSet
    assert(got === Set(
      ("null-src", "not_null_source",
        "source is null: minimum required = 1, but only found 0"),
      ("a-1", "len_consistency", "n_tok=2 size=1"),
      ("n-null", "not_null_tokens",
        "tokens is null: minimum required = 1, but only found 0")))
  }

  test("conditional rule fires only when the premise holds") {
    val rules: Seq[Rule] = Seq(
      ConditionalRule("cond_a_cap", "source", "A",
        RangeRule("inner", "n_tok", 1, 3)))
    val df = Seq(
      TokenRow("a-hit", Array(1, 2, 3), 3, "A"),   // premise + violation
      TokenRow("a-ok", Array(1), 1, "A"),          // premise, no violation
      TokenRow("n-exempt", Array(1, 2, 3), 3, "N") // violation, no premise
    ).toDF
    val got = Validator.violations(df, RuleSet("c", rules), Map.empty)
      .select("doc_id", "rule_id", "detail")
      .as[(String, String, String)].collect().toSet
    assert(got === Set(
      ("a-hit", "cond_a_cap", "when source='A': n_tok=3 out of [1,3)")))
  }

  test("conditional rule parses from JSON and rejects non-row inner rules") {
    val routing = RuleSetLoader.parse(
      """{ "ruleSets": { "default": [
        |    {"type":"conditional","id":"c1","whenColumn":"source",
        |     "whenEquals":"A","severity":"warning",
        |     "rule":{"type":"range","id":"i1","column":"n_tok","lo":1,"hi":5}}
        |  ]},
        |  "defaultRuleSet": "default" }""".stripMargin)
    val parsed = routing.ruleSets("default").rules.head
    assert(parsed === ConditionalRule("c1", "source", "A",
      RangeRule("i1", "n_tok", 1, 5), "warning", None))
    // a conditional wrapping a dataset-level rule must fail loudly at
    // compile, not be silently skipped
    val bad = ConditionalRule("c2", "source", "A",
      UniqueRule("u", "doc_id"))
    assertThrows[IllegalArgumentException] {
      RuleCompiler.compileRow(bad)
    }
    assert(RuleSet("s", Seq(bad)).rowRules == Seq(bad))
  }

  test("schema conformance reports missing/unexpected/mismatch, else empty") {
    import graft.engine.SchemaCheck
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    assert(SchemaCheck.issues(df.schema,
      Seq("doc_id" -> "bigint", "text" -> "string")) === Nil)
    val got = SchemaCheck.issues(df.schema,
      Seq("doc_id" -> "int", "license" -> "string"))
    assert(got === Seq(
      SchemaCheck.SchemaIssue("doc_id", "type_mismatch",
        "expected int found bigint"),
      SchemaCheck.SchemaIssue("license", "missing", "expected string"),
      SchemaCheck.SchemaIssue("text", "unexpected", "found string")))
    assertThrows[IllegalArgumentException] {
      SchemaCheck.require(df, Seq("license" -> "string"))
    }
    SchemaCheck.require(df, Seq("doc_id" -> "bigint", "text" -> "string"))
  }

  test("fdViolations flags keys whose dependent values disagree") {
    val df = Seq(
      TokenRow("d1", Array(1), 3, "A"), TokenRow("d1", Array(1), 3, "N"),
      TokenRow("d2", Array(1), 2, "A"), TokenRow("d2", Array(1), 5, "A"),
      TokenRow("d3", Array(1), 1, "R")).toDF
    val got = Validator.fdViolations(df, "fd", "doc_id", "n_tok")
      .select("doc_id", "detail", "source")
      .as[(String, String, String)].collect().toSet
    // d1 agrees (3,3) — consistent duplicates pass; d3 is a singleton
    assert(got === Set(
      ("d2", "n_tok has 2 distinct values for one doc_id", "A")))
  }

  test("snapshot diff uses multiset semantics over duplicate rows") {
    import graft.engine.SnapshotDiff
    val cols = Seq("doc_id", "n_tok", "source")
    val cur = Seq(
      ("d1", 1, "A"), ("d1", 1, "A"),  // two copies now
      ("d2", 2, "A")).toDF(cols: _*)
    val prev = Seq(
      ("d1", 1, "A"),                  // one copy before
      ("d3", 3, "N")).toDF(cols: _*)
    val got = SnapshotDiff.rowDiff(cur, prev, cols)
      .select("doc_id", "change").as[(String, String)].collect().toSeq
      .sorted
    // the SECOND d1 copy is added (multiset), d2 added, d3 removed
    assert(got === Seq(("d1", "added"), ("d2", "added"), ("d3", "removed")))
    val changed = SnapshotDiff.changedSources(cur, prev, cols)
      .as[String].collect().toSet
    assert(changed === Set("A", "N"))
  }

  test("one-pass diffBySource equals aggregating rowDiff (round-7 shape)") {
    // diffBySource/changedSources now run ONE tagged-union aggregate
    // instead of two exceptAll legs (4 snapshot scans); the counts must be
    // the exceptAll multiset surplus exactly, including zero-count group
    // absence and the all-equal case
    import graft.engine.SnapshotDiff
    val cols = Seq("doc_id", "n_tok", "source")
    val cur = Seq(
      ("d1", 1, "A"), ("d1", 1, "A"), ("d1", 1, "A"), // three copies
      ("d2", 2, "A"), ("d4", 4, "N"), ("d5", 5, "R")).toDF(cols: _*)
    val prev = Seq(
      ("d1", 1, "A"),                                  // one copy before
      ("d3", 3, "N"), ("d4", 4, "N"), ("d5", 5, "R")).toDF(cols: _*)
    val got = SnapshotDiff.diffBySource(cur, prev, cols)
      .as[(String, String, Long)].collect().toSet
    val viaRowDiff = SnapshotDiff.rowDiff(cur, prev, cols)
      .groupBy("source", "change").agg(count(lit(1)).as("n_rows"))
      .as[(String, String, Long)].collect().toSet
    assert(got === viaRowDiff)
    assert(got === Set(("A", "added", 3L), ("N", "removed", 1L)))
    // identical snapshots: no diff groups at all
    assert(SnapshotDiff.diffBySource(prev, prev, cols).count() === 0L)
    assert(SnapshotDiff.changedSources(prev, prev, cols).count() === 0L)
  }

  test("a changed NULL-source row flags its slice for re-validation") {
    // ADVICE r5: the old form dropped null-source diff rows entirely — a
    // changed row silently escaping validation, the engine's core failure
    // mode (routed validation sends null source to the default set)
    import graft.engine.SnapshotDiff
    val cols = Seq("doc_id", "n_tok", "source")
    val cur = Seq(("d1", 1, "A"), ("d9", 9, null.asInstanceOf[String]))
      .toDF(cols: _*)
    val prev = Seq(("d1", 1, "A")).toDF(cols: _*)
    val changed = SnapshotDiff.changedSources(cur, prev, cols)
      .as[String].collect().toSeq
    assert(changed === Seq(SnapshotDiff.NullSourceSentinel))
    // sliceFilter translates the sentinel back into IS NULL (isin alone
    // never matches NULL), so the pending set selects exactly the slice
    val slice = cur.where(SnapshotDiff.sliceFilter(changed))
      .select("doc_id").as[String].collect().toSeq
    assert(slice === Seq("d9"))
    // and named sources still select normally alongside the sentinel
    val both = cur.where(SnapshotDiff.sliceFilter(
      Seq("A", SnapshotDiff.NullSourceSentinel)))
    assert(both.count() === 2L)
  }
}
