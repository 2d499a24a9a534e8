package graft

import org.apache.spark.sql.functions._
import graft.engine.Validator
import graft.rules._
import graft.sources.{JsonIngest, TokenTable}

/** Lifecycle semantics: JSON parse containment, adaptive fallback, rule
  * error containment, report-side inclusion + grouping.
  */
class LifecycleSpec extends SparkSpec {

  private def dims = Map("allowed_sources" -> TokenTable.allowedDim(spark))
  private def ruleSet = RuleSet.default(TokenTable.Vocab)

  test("JSON ingest: corrupt lines become parse violations, rest parse clean") {
    val s = spark
    import s.implicits._
    withTempDir("graft_json") { dir =>
      Seq(
        """{"doc_id":"d1","tokens":[1,2],"n_tok":2,"source":"A"}""",
        """{"doc_id":"d2","tokens":[""",                      // corrupt, id salvageable
        """not even json""",                                  // corrupt, no id
        """{"doc_id":"d3","n_tok":1,"source":"N"}"""          // valid, tokens absent
      ).toDF("value").coalesce(1).write.mode("overwrite").text(dir)

      val df = JsonIngest.read(spark, dir)
      val valid = JsonIngest.validRows(df)
      assert(valid.count() === 2)
      assert(valid.where(col("doc_id") === "d3").select("tokens")
        .first().isNullAt(0))

      val pv = JsonIngest.parseViolations(df)
        .select("doc_id", "rule_id", "severity")
        .as[(String, String, String)].collect().toSet
      assert(pv === Set(
        ("d2", "parse", "fatal"), ("<unparseable>", "parse", "fatal")))
    }
  }

  test("JSON fixture corpus: parse violations at exactly key % 113 == 0") {
    val corpus = JsonIngest.materializedJson(spark, sf0001)
    val df = JsonIngest.read(spark, corpus)
    val expected = TokenTable.lineitem(spark, sf0001)
      .where((col("l_orderkey") * 7 + col("l_linenumber")) % 113 === 0)
      .count()
    assert(JsonIngest.parseViolations(df).count() === expected)
    assert(JsonIngest.validRows(df).count() ===
      TokenTable.lineitem(spark, sf0001).count() - expected)
  }

  test("adaptive fallback: missing source → warning note + full rescan") {
    val tok = TokenTable.tokens(spark, sf0001)
    val fb = Validator.summaryWithFallback(tok, "ZZ", ruleSet, dims)
    assert(fb.select("fallback").distinct().collect().map(_.getBoolean(0))
      .toSeq === Seq(true))
    assert(fb.count() === tok.select("source").distinct().count())
    val direct = Validator.summaryWithFallback(tok, "A", ruleSet, dims)
    assert(direct.select("fallback").first().getBoolean(0) === false)
    assert(direct.count() === 1)
  }

  test("error containment: broken rules become engine_error rows, good rules still run") {
    val tok = TokenTable.tokens(spark, sf0001)
    val broken = RuleSet("with_bad", ruleSet.rules ++ Seq(
      NotNullRule("bad_col_rule", "no_such_column"),
      ReferentialRule("bad_ref_rule", "source", "no_such_dim")))
    val out = Validator.violationsContained(tok, broken, dims)
    val errs = out.where(col("detail").startsWith("engine_error"))
      .select("rule_id").collect().map(_.getString(0)).toSet
    assert(errs === Set("bad_col_rule", "bad_ref_rule"))
    // healthy rules unaffected: same counts as the plain pass
    val contained = out.where(!col("detail").startsWith("engine_error"))
      .groupBy("rule_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = Validator.violations(tok, ruleSet, dims)
      .groupBy("rule_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(contained === plain)
  }

  test("window-ranked duplicates agree with aggregate uniqueness") {
    val s = spark
    import s.implicits._
    val tok = TokenTable.tokens(spark, sf0001)
    // per-key extra-row counts from the window path...
    val ranked = Validator.duplicatesRanked(tok, "doc_id")
      .groupBy("doc_id").count().as[(String, Long)].collect().toMap
    // ...must equal (cnt - 1) from the aggregate path
    val agg = tok.groupBy("doc_id").count().where(col("count") > 1)
      .as[(String, Long)].collect().toMap
    assert(ranked === agg.map { case (k, n) => k -> (n - 1) })
    assert(ranked.nonEmpty)
  }

  test("top-k duplicated keys is the k most frequent, ordered") {
    val s = spark
    import s.implicits._
    val tok = TokenTable.tokens(spark, sf0001)
    val top = Validator.topDuplicatedKeys(tok, "doc_id", 3)
      .as[(String, Long)].collect().toSeq
    val all = tok.groupBy("doc_id").count().where(col("count") > 1)
      .as[(String, Long)].collect().toSeq
      .sortBy { case (id, n) => (-n, id) }
    assert(top === all.take(3))
  }

  test("salted two-phase uniqueness equals the single-phase aggregate") {
    val s = spark
    import s.implicits._
    val tok = TokenTable.tokens(spark, sf0001)
    val rule = ruleSet.uniqueRules.head
    val plain = Validator.uniqueViolations(tok, rule)
      .as[(String, String, String, String, String)].collect().toSet
    val salted = SaltedUniqueness.violations(tok, rule, nSalt = 16)
      .as[(String, String, String, String, String)].collect().toSet
    assert(salted === plain)
    assert(plain.nonEmpty)
  }

  test("SequenceSource: snapshots and partitions behind one interface") {
    val src = new graft.sources.ParquetSequenceSource(sf0001)
    assert(src.snapshotIds(spark) === Seq(0L, 1L))
    val full = src.read(spark, None).count()
    val base = src.read(spark, Some(0L)).count()
    assert(base < full && base > 0)
    assert(src.partitions(spark).contains("A"))
  }

  test("report inclusion + detail grouping") {
    val s = spark
    import s.implicits._
    val tok = TokenTable.tokens(spark, sf0001)
    val v = Validator.violations(tok, ruleSet, dims)
    val included = graft.report.ReportOps.includeSources(
      Validator.summary(tok, v)).as[String].collect().toSet
    val withV = v.select("source").distinct().as[String].collect().toSet
    assert(included === withV)

    val groups = graft.report.ReportOps.groupByDetailPrefix(v)
    val keys = groups.select("detail_key").as[String].collect().toSet
    assert(keys.contains("n_tok"))      // "n_tok=.. size=.." violations
    assert(keys.contains("source"))     // referential violations
    val nTotal = groups.agg(sum("n")).first().getLong(0)
    assert(nTotal === v.count())
  }

  test("Validate entry point: routed run, resume skip, persisted report") {
    import spark.implicits._
    withTempDir("graft_validate") { tmp =>
      val rulesJson =
        """{ "ruleSets": {
          |    "default": [
          |      {"type":"notNull","id":"nn","column":"tokens","severity":"fatal"},
          |      {"type":"lengthConsistency","id":"lc","arrayColumn":"tokens","lengthColumn":"n_tok"},
          |      {"type":"referential","id":"rf","column":"source","dimension":"allowed"}
          |    ]},
          |  "routing": {}, "defaultRuleSet": "default" }""".stripMargin
      val dimsJson = """{"valueSets": {"allowed": ["A", "N", "R"]}}"""
      val tok = TokenTable.tokens(spark, sf0001)

      val first = graft.tools.Validate.run(spark, tok, rulesJson,
        Some(dimsJson), s"$tmp/manifest", snapshotId = 7L,
        reportDir = Some(s"$tmp/reports"))
      assert(first.validated.nonEmpty && first.skipped.isEmpty)
      assert(first.reportPath.exists(_.contains("report_snap=7")))
      val firstRows = first.summary.orderBy("source")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

      // re-submission at the same snapshot: everything skips, summary
      // reconstructs from the manifest identically
      val second = graft.tools.Validate.run(spark, tok, rulesJson,
        Some(dimsJson), s"$tmp/manifest", snapshotId = 7L, reportDir = None)
      assert(second.validated.isEmpty)
      assert(second.skipped.toSet === first.validated.toSet)
      val secondRows = second.summary.orderBy("source")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(secondRows === firstRows)

      // the persisted artifact reloads as the latest report
      val rep = graft.report.ReportOps.latestReport(spark, s"$tmp/reports")
      assert(rep.count() > 0)
      assert(rep.columns.toSeq === Seq("category", "severity_rank", "color",
        "severity", "rule_id", "detail_generic", "cnt"))
    }
  }

  test("Validate's JSON line keeps a NULL source null and escapes quotes") {
    import spark.implicits._
    import org.json4s._
    withTempDir("graft_validate_json") { tmp =>
      val tok = Seq[(String, Seq[Int], Int, String)](
          ("d1", Seq(1), 1, null), ("d2", Seq(1), 2, "A"),
          ("d3", Seq(1), 1, "q\"x"))
        .toDF("doc_id", "tokens", "n_tok", "source")
      val rulesJson =
        """{ "ruleSets": {
          |    "default": [
          |      {"type":"lengthConsistency","id":"lc","arrayColumn":"tokens","lengthColumn":"n_tok"}
          |    ]},
          |  "routing": {}, "defaultRuleSet": "default" }""".stripMargin
      val out = graft.tools.Validate.run(spark, tok, rulesJson, None,
        s"$tmp/manifest", 1L, None)
      val line = org.json4s.jackson.JsonMethods.parse(
        graft.tools.Validate.runLine(out))
      assert((line \ "validated") === JInt(3))
      assert((line \ "report") === JNothing)
      val summary = (line \ "summary").children
      assert(summary.map(_.asInstanceOf[JObject].obj.map(_._1)).distinct ===
        List(List("source", "n_rows", "n_violations", "pass")))
      val rows = summary.map(r =>
        (r \ "source", r \ "n_rows", r \ "n_violations", r \ "pass"))
      assert(rows === List(
        (JNull, JInt(1), JInt(0), JBool(true)),
        (JString("A"), JInt(1), JInt(1), JBool(false)),
        (JString("q\"x"), JInt(1), JInt(0), JBool(true))))
    }
  }

  test("Validate's flags: parsed in pairs; unknown or unpaired flags fail by name") {
    import graft.tools.Validate
    val base = Array("--tokens", "t", "--rules", "r.json", "--manifest", "m")
    val a = Validate.parseArgs(base ++ Array("--snapshot", "42", "--sla", "true"))
    assert((a.tokens, a.rules, a.manifest, a.snapshot, a.sla, a.dims) ===
      ("t", "r.json", "m", 42L, true, None))
    def rejects(argv: Array[String], flag: String): Unit = {
      val e = intercept[IllegalArgumentException](Validate.parseArgs(argv))
      assert(e.getMessage.contains(flag), e.getMessage)
    }
    rejects(base ++ Array("--snapshto", "42"), "--snapshto") // typo
    rejects(base :+ "--report", "--report")                 // last, no value
    rejects(Array("--tokens", "--rules", "r.json"), "--tokens") // no value
    rejects(base.drop(2), "--tokens")                        // missing
    // a bare --trend fails before any session starts
    val e = intercept[IllegalArgumentException](Validate.main(Array("--trend")))
    assert(e.getMessage.contains("--trend"), e.getMessage)
  }

  test("Validate --prune reclaims superseded violation generations") {
    withTempDir("graft_vprune") { tmp =>
      val manifest = s"$tmp/manifest"
      val rulesJson =
        """{ "ruleSets": {
          |    "default": [
          |      {"type":"notNull","id":"nn","column":"tokens","severity":"fatal"},
          |      {"type":"lengthConsistency","id":"lc","arrayColumn":"tokens","lengthColumn":"n_tok"}
          |    ]},
          |  "routing": {}, "defaultRuleSet": "default" }""".stripMargin
      val tok = TokenTable.tokens(spark, sf0001)
      // leg 1 validates only A → generation 1 covers {A}; the manifest is
      // then lost (simulated coordinator reset) so the re-run re-validates
      // EVERYTHING → generation 2 covers {A, N, R, …} and generation 1 is
      // fully superseded
      val out1 = graft.tools.Validate.run(spark,
        tok.where(col("source") === "A"), rulesJson, None, manifest, 7L, None)
      assert(out1.validated === Seq("A") && out1.pruned === 0)
      graft.sources.Fs.delete(spark, manifest)
      val out2 = graft.tools.Validate.run(spark, tok, rulesJson, None,
        manifest, 7L, None, pruneSuperseded = true)
      assert(out2.validated.contains("A"))
      assert(out2.pruned === 1, "superseded generation not reclaimed")
      // the surviving store still reconstructs the full violation set
      val stored = graft.engine.ViolationStore.latest(
        spark, s"${manifest}_violations", 7L,
        graft.engine.Checkpoint.load(spark, manifest))
      val live = Validator.violations(tok,
        RuleSet("rr", Seq(NotNullRule("nn", "tokens", "fatal"),
          LengthConsistencyRule("lc", "tokens", "n_tok"))),
        Map.empty)
      assert(stored.count() === live.count())
      assert(stored.count() > 0)
    }
  }
}
