package graft

/** Plan-shape audits: scan counts of composed queries must stay the sum of
  * their parts — Catalyst pushing a semi-join through a union once silently
  * re-embedded a whole summary subtree into every branch (39 scans for a
  * 7-scan query).
  */
class PlanAuditSpec extends SparkSpec {
  private def scans(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("FileScan parquet"))

  test("composed queries do not multiply scans") {
    assert(scans(Queries.vSummary(spark, sf001)) <= 4)
    assert(scans(Queries.vViolations(spark, sf001)) <= 3)
    // VERDICT r4 #3: one assembled report executes the violations subtree
    // ONCE — the old inclusion job ran it a second time just to collect a
    // vacuous source list, doubling the report's scan budget. The report
    // plan must read no more than the violations plan itself.
    val vScans = scans(Queries.vViolations(spark, sf001))
    assert(scans(Queries.rReportFull(spark, sf001)) <= vScans,
      s"report scans = ${scans(Queries.rReportFull(spark, sf001))} > " +
        s"violations scans = $vScans — the report re-executes the subtree")
    // routed: one row-rule scan + one per dataset-rule slice
    assert(scans(Queries.vRoutedMatrix(spark, sf001)) <= 2)
    // one-pass subset diff (r6): the snapshot diff must cost ONE rule
    // pass, not two — same scan budget as the violations plan itself
    assert(scans(Queries.rReportDiff(spark, sf001)) <=
      scans(Queries.vViolations(spark, sf001)),
      "subset diff re-scans the corpus for the baseline leg")
  }

  test("referential rules with a dimension under 10k values are one scan, no join") {
    // both compile to a membership predicate in the one row pass: the
    // loaded value set holds 2 values, the non-pending orders 9,912 at
    // sf0.01 (the orders scan is a build-time collect, not in the plan)
    for (q <- Seq(Queries.vRefLoadedDim(spark, sf001),
        Queries.vRefBigDim(spark, sf001))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(scans(q) === 1, plan.take(1500))
      assert(!plan.contains("Join"), plan.take(1500))
    }
  }

  test("vocabulary-sized joins broadcast (LM scoring, PMI)") {
    // the per-word log-prob / unigram joins key the CORPUS-sized exploded
    // frame against vocabulary-sized tables — when the realized vocabulary
    // is small they must EXECUTE as broadcasts; leaving the exploded corpus
    // in a sort-merge shuffle is the 100 TB failure mode for these
    // operators. Since round 6 the joins carry no hard broadcast hint (a
    // word vocabulary is unbounded at corpus scale — ADVICE r5), so the
    // broadcast arrives via AQE / cached-aggregate stats: assert on the
    // FINAL plan after execution, not the static one.
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case p => p.toString
      }
    }
    val lm = finalPlan(Queries.dLmScore(spark, sf001))
    assert(lm.contains("BroadcastHashJoin"), lm.take(1200))
    assert(!lm.contains("SortMergeJoin"), lm.take(1200))
    val pmi = finalPlan(Queries.vTokenPmi(spark, sf001))
    assert(pmi.contains("BroadcastHashJoin"), pmi.take(1200))
    assert(!pmi.contains("SortMergeJoin"), pmi.take(1200))
  }

  test("per-row pipeline operators are single-scan; filter stays codegen'd") {
    assert(scans(Queries.dQualityFilter(spark, sf001)) === 1)
    assert(scans(Queries.dRepetition(spark, sf001)) === 1)
    assert(scans(Queries.dSplitAssign(spark, sf001)) === 1)
    // the quality filter's gates are pure arithmetic/regex — the scan stage
    // must be whole-stage compiled (a single HOF would bar it)
    val qf = Queries.dQualityFilter(spark, sf001)
    qf.collect()
    val finalPlan = qf.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // the `*(n)` prefix is the one-line-tree marker for a WholeStageCodegen
    // stage; the scan-side projection chain must carry it (a single HOF —
    // the bug this pins — drops the whole stage to interpreted eval)
    val planStr = finalPlan.toString
    assert(planStr.linesIterator.exists(l =>
      l.contains("*(") && l.contains("Project")), planStr.take(1500))
  }

  test("round-6 per-row operators: single scan, chunking shuffle-free") {
    // context windows: explode + slice is a pure per-row projection — at
    // 100 TB the chunking pass must stay one scan-dominated map stage
    // (ORDER BY in the registry query is presentation; audit the operator)
    val cw = graft.operators.ChunkOps.contextWindows(
      graft.sources.TokenTable.tokens(spark, sf001), 32, 24)
    val cwPlan = cw.queryExecution.executedPlan.toString
    assert(scans(cw) === 1)
    assert(!cwPlan.contains("Exchange"), cwPlan.take(1200))
    // PII scrub: regex projections ride one scan
    assert(scans(Queries.dPiiScrub(spark, sf001)) === 1)
  }
}
