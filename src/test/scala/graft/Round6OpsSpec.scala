package graft

import org.apache.spark.sql.functions._

import graft.engine.{Expectation, Expectations, MetricsStore, StatsOps, Validator}
import graft.operators.{ChunkOps, SampleOps}
import graft.operators.TextOps
import graft.rules.RuleSet
import graft.sources.TokenTable

class Round6OpsSpec extends SparkSpec {
  import spark.implicits._

  test("context windows cover every token, respect stride, cap the tail") {
    val df = Seq(
      ("a", Seq.range(0, 50), "A"),   // 3 windows: 32, 26, 2
      ("b", Seq.range(0, 24), "A"),   // 1 window exactly
      ("c", Seq(7), "N"),             // 1 singleton window
      ("d", null.asInstanceOf[Seq[Int]], "N") // skipped
    ).toDF("doc_id", "tokens", "source")
    val w = ChunkOps.contextWindows(df, 32, 24)
      .orderBy("doc_id", "win_idx")
      .select("doc_id", "win_idx", "win_len", "win_sum", "f_tok", "l_tok")
      .as[(String, Int, Int, Long, Int, Int)].collect().toSeq
    assert(w === Seq(
      ("a", 0, 32, (0 until 32).sum.toLong, 0, 31),
      ("a", 1, 26, (24 until 50).sum.toLong, 24, 49),
      ("a", 2, 2, (48 until 50).sum.toLong, 48, 49),
      ("b", 0, 24, (0 until 24).sum.toLong, 0, 23),
      ("c", 0, 1, 7L, 7, 7)))
    // coverage: every position 0..n-1 falls in some window
    val covered = w.filter(_._1 == "a")
      .flatMap { case (_, i, len, _, _, _) => i * 24 until (i * 24 + len) }
      .toSet
    assert(covered === (0 until 50).toSet)
  }

  test("pii redact and counts find emails, ipv4 and phones, nothing else") {
    val df = Seq(
      (1L, "write bob.smith@corp.example.org or ping 192.168.0.1 now", "A"),
      (2L, "call +1-555-0199 twice", "A"),
      (3L, "plain text with no pii at all", "N")
    ).toDF("doc_id", "text", "source")
    val got = TextOps.piiCounts(df).orderBy("doc_id")
      .as[(Long, String, Long, Long, Long, Long)].collect().toSeq
    assert(got.map(r => (r._1, r._3, r._4, r._5)) ===
      Seq((1L, 1L, 1L, 0L), (2L, 0L, 0L, 1L), (3L, 0L, 0L, 0L)))
    val red = df.select(TextOps.piiRedact(col("text"))).as[String]
      .collect().toSeq
    assert(red(0) === "write <EMAIL> or ping <IP> now")
    assert(red(1) === "call <PHONE> twice")
    assert(red(2) === "plain text with no pii at all")
  }

  test("lm buckets partition the corpus: bucket doc counts sum to n_docs") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val b = TextOps.lmQualityBuckets(docs)
    val total = b.agg(sum("n_docs")).as[Long].head()
    assert(total === docs.count())
    // fixed cutoffs: every bucket's [min_lp, max_lp] sits inside its band
    val rows = b.select("bucket", "min_lp", "max_lp")
      .as[(String, Double, Double)].collect()
    rows.foreach {
      case ("tail", _, hi) => assert(hi < -3.55)
      case ("low", lo, hi) => assert(lo >= -3.55 && hi < -3.41)
      case ("mid", lo, hi) => assert(lo >= -3.41 && hi < -3.40)
      case ("head", lo, _) => assert(lo >= -3.40)
      case other           => fail(s"unexpected bucket $other")
    }
  }

  test("mixing weights: sum to 1, alpha=1 is proportional, alpha<1 flattens") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val w1 = SampleOps.mixingWeights(docs, 1.0)
      .select("source", "share", "weight")
      .as[(String, Double, Double)].collect().toSeq
    w1.foreach { case (_, s, w) => assert(math.abs(s - w) < 1e-6) }
    val w05 = SampleOps.mixingWeights(docs, 0.5)
      .select("source", "share", "weight")
      .as[(String, Double, Double)].collect().toSeq
    assert(math.abs(w05.map(_._3).sum - 1.0) < 1e-5)
    // flattening: the largest source loses weight, the smallest gains
    val maxSrc = w05.maxBy(_._2)
    val minSrc = w05.minBy(_._2)
    assert(maxSrc._3 <= maxSrc._2 + 1e-9)
    assert(minSrc._3 >= minSrc._2 - 1e-9)
  }

  test("expectation suite: zero-violation rules report PASS; breaches FAIL") {
    val tok = TokenTable.tokens(spark, sf001)
    val ruleSet = RuleSet.default(TokenTable.Vocab)
    val dims = Map("allowed_sources" -> TokenTable.allowedDim(spark))
    val detailed = Validator.violations(tok, ruleSet, dims)
    val suite = Expectations.suite(spark, detailed, tok.count(),
      Expectations.defaultSuite(ruleSet))
    val byRule = suite.select("rule_id", "n_violations", "status")
      .as[(String, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byRule.size === ruleSet.rules.size)
    // rules that never fire on the fixture still report, as PASS
    assert(byRule("not_null_source") === ((0L, "PASS")))
    assert(byRule("n_tok_range") === ((0L, "PASS")))
    // ~1% injection rate breaches the 0.5% error tolerance
    assert(byRule("len_consistency")._1 > 0)
    assert(byRule("len_consistency")._2 === "FAIL")
    assert(byRule("ref_source")._2 === "FAIL")
    // severity ladder: fatals are zero-tolerance, and no fatal is ever
    // more tolerant than an error
    val maxRate = suite.select("rule_id", "max_rate")
      .as[(String, Double)].collect().toMap
    val bySeverity = ruleSet.rules.groupBy(_.severity)
      .map { case (sev, rs) => sev -> rs.map(r => maxRate(r.id)) }
    assert(bySeverity("fatal").forall(_ == 0.0))
    assert(bySeverity("fatal").max <= bySeverity("error").min)
    // one null-token row in ~107 is a fatal breach, not within budget
    assert(byRule("not_null_tokens")._2 === "FAIL")
  }

  test("metrics store: zero-filled per-rule rows; trend deltas and flags") {
    val dir = s"/tmp/graft_test_metrics_${System.nanoTime()}"
    val ruleSet = RuleSet.default(TokenTable.Vocab)
    val dims = Map("allowed_sources" -> TokenTable.allowedDim(spark))
    val base = TokenTable.tokensBaseline(spark, sf001)
    val cur = TokenTable.tokens(spark, sf001)
    MetricsStore.append(spark, dir, 1L, 1L, ruleSet,
      Validator.violations(base, ruleSet, dims), base.count())
    MetricsStore.append(spark, dir, 2L, 2L, ruleSet,
      Validator.violations(cur, ruleSet, dims), cur.count())
    val hist = MetricsStore.history(spark, dir)
    assert(hist.count() === 2L * ruleSet.rules.size)
    val t = MetricsStore.trend(spark, dir)
    // run 1 has no predecessor: null prev and null regressed
    assert(t.where(col("run_id") === 1 &&
      col("prev_violations").isNotNull).count() === 0)
    val run2 = t.where(col("run_id") === 2)
      .select("rule_id", "n_violations", "prev_violations", "delta")
      .as[(String, Long, Long, Long)].collect()
    assert(run2.length === ruleSet.rules.size)
    run2.foreach { case (_, nv, pv, d) => assert(d === nv - pv) }
    // the full table has at least as many rows, so counts cannot shrink
    // for the injected row-rules (every 97th/107th/109th row)
    val m = run2.map(r => r._1 -> r._2).toMap
    val p = run2.map(r => r._1 -> r._3).toMap
    assert(m("len_consistency") >= p("len_consistency"))
    graft.sources.Fs.delete(spark, dir)
  }

  test("token budget cap: deterministic kept set, ties kept together") {
    val df = Seq(
      ("x", 10, "A"), ("x", 10, "A"),       // id-tied pair: one cum value
      ("y", 10, "A"), ("z", 10, "A"),
      ("q", 5, "N")
    ).toDF("doc_id", "tokens_ignored", "source")
      .withColumnRenamed("tokens_ignored", "n_tok")
    // budget 25: the tied pair shares cum and is kept/dropped together —
    // whichever ids hash first, kept token totals never split a tie
    val got = SampleOps.tokenBudgetFlag(df, 25L)
      .groupBy("source", "doc_id", "kept").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
        r.getLong(3)))
    val xRows = got.filter(r => r._2 == "x")
    assert(xRows.length === 1 && xRows.head._4 === 2,
      s"tied ids split across kept states: ${got.toSeq}")
    // layout-invariance: same kept multiset at any partitioning
    val a = SampleOps.tokenBudgetFlag(df.repartition(7), 25L)
      .where(col("kept")).select("doc_id").as[String].collect().sorted.toSeq
    val b = SampleOps.tokenBudgetFlag(df.coalesce(1), 25L)
      .where(col("kept")).select("doc_id").as[String].collect().sorted.toSeq
    assert(a === b)
    // fixture: kept token total respects the budget per source
    val tok = TokenTable.tokens(spark, sf001)
    val summ = SampleOps.tokenBudgetSummary(tok, 100000L)
      .as[(String, Long, Long, Long)].collect()
    summ.foreach { case (s, kept, tokKept, dropped) =>
      assert(tokKept <= 100000L, s"source $s exceeds budget: $tokKept")
      assert(kept > 0)
    }
    // at least one source is capped at sf0.01-scale inputs
    assert(summ.exists(_._4 > 0))
  }

  test("corpus funnel: monotone survivor counts, stages match components") {
    import graft.operators.DedupOps
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val corpus = d.where(col("doc_id") >= 25)
    val eval_ = d.where(col("doc_id") < 25)
    val f = DedupOps.corpusFunnel(corpus, eval_, maxHamming = 3,
        wordHash = DedupOps.md5WordHash60, bits = 60)
      .orderBy("stage").as[(String, Long)].collect().toSeq
    assert(f.map(_._1) === Seq("1_input", "2_exact_dedup", "3_near_dedup",
      "4_decontaminated", "5_quality"))
    val counts = f.map(_._2)
    assert(counts === counts.sorted.reverse, s"not monotone: $f")
    assert(counts.head === corpus.count())
    // stage 2 equals the component operator's own accounting:
    // input minus the exact-duplicate rows that are not keepers
    val dupsDropped = DedupOps.exactDuplicates(corpus)
      .where(!col("keep")).count()
    assert(counts(1) === counts.head - dupsDropped)
    // every near-dup dropped doc has a surviving smaller near-dup partner
    assert(counts(2) <= counts(1))
  }

  test("incremental dedup: history dup, batch dup, and admit verdicts") {
    import graft.operators.DedupOps
    val hist = Seq((1L, "alpha beta gamma", "A"))
      .toDF("doc_id", "text", "source")
    val batch = Seq(
      (10L, "alpha beta gamma", "A"),   // dup of history
      (11L, "delta epsilon zeta", "A"), // fresh keeper
      (12L, "delta epsilon zeta", "A"), // dup within batch
      (13L, "eta theta iota", "N")      // fresh
    ).toDF("doc_id", "text", "source")
    val got = DedupOps.incrementalDedup(batch,
        TextOps.fingerprints(hist))
      .orderBy("doc_id")
      .select("doc_id", "dup_of_history", "dup_in_batch", "admit")
      .as[(Long, Boolean, Boolean, Boolean)].collect().toSeq
    assert(got === Seq(
      (10L, true, false, false),
      (11L, false, false, true),
      (12L, false, true, false),
      (13L, false, false, true)))
  }

  test("skew report flags a dominant source above the 2x threshold") {
    val rows = (1 to 90).map(i => (s"d$i", 10, "big")) ++
      (1 to 5).map(i => (s"s$i", 10, "sm1")) ++
      (1 to 5).map(i => (s"t$i", 10, "sm2"))
    val df = rows.toDF("doc_id", "n_tok", "source")
    val got = graft.engine.StatsOps.skewReport(df)
      .select("source", "skew_factor", "skewed")
      .as[(String, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // uniform share over 3 sources = 1/3; big holds 90% → skew 2.7
    assert(got("big")._2 && got("big")._1 > 2.0)
    assert(!got("sm1")._2 && !got("sm2")._2)
  }

  test("shuffle order: contiguous positions per shard, layout-invariant") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val o = SampleOps.shuffleOrder(d, "doc_id", 8)
    // positions are 1..n within every shard, no gaps or dups
    val perShard = o.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"),
        countDistinct("pos").as("dp"))
      .as[(Int, Long, Int, Long)].collect()
    perShard.foreach { case (s, n, mx, dp) =>
      assert(mx.toLong === n && dp === n, s"shard $s: n=$n max=$mx dp=$dp")
    }
    assert(perShard.map(_._2).sum === d.count())
    // deterministic across layouts
    val a = o.orderBy("shard", "pos").collect().toSeq
    val b = SampleOps.shuffleOrder(d.repartition(13), "doc_id", 8)
      .orderBy("shard", "pos").collect().toSeq
    assert(a === b)
  }

  test("text normalization: canonical form, idempotent") {
    val df = Seq(
      (1L, "  Mixed   CASE \t text  ", "A"),
      (2L, "already normal", "A")
    ).toDF("doc_id", "text", "source")
    val got = df.select(TextOps.normalizeText(col("text")))
      .as[String].collect().toSeq
    assert(got === Seq("mixed case text", "already normal"))
    // idempotence: normalize(normalize(x)) == normalize(x)
    val once = df.select(TextOps.normalizeText(col("text")).as("t"))
    val twice = once.select(TextOps.normalizeText(col("t")))
      .as[String].collect().toSeq
    assert(twice === got)
    val rep = TextOps.normalizeReport(df).orderBy("doc_id")
      .select("changed", "chars_saved").as[(Boolean, Long)].collect().toSeq
    assert(rep === Seq((true, 8L), (false, 0L)))
  }

  test("approx distinct check lands within the 5% bound on the fixture") {
    val tok = TokenTable.tokens(spark, sf001)
    val r = StatsOps.approxDistinctCheck(tok, "doc_id")
      .as[(Long, Long, Boolean)].head()
    assert(r._1 === tok.count())
    assert(r._2 === tok.select("doc_id").distinct().count())
    assert(r._3, s"HLL estimate out of bound: $r")
  }
}
