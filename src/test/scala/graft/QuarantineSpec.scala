package graft

import org.apache.spark.sql.functions._
import graft.engine.{Quarantine, Validator}
import graft.operators.EventOps
import graft.sources.TokenTable

class QuarantineSpec extends SparkSpec {
  import spark.implicits._

  test("quarantine split: lossless, one write, clean side re-validates") {
    val tok = TokenTable.tokens(spark, sf0001)
    val ruleSet = graft.rules.RuleSet.default(TokenTable.Vocab)
    val dims = Map("allowed_sources" -> TokenTable.allowedDim(spark))
    withTempDir("graft_quarantine") { out =>
      val written = Quarantine.splitWrite(spark, tok, ruleSet, dims, out)
      // lossless: the two buckets partition the input
      assert(written.count() === tok.count())
      assert(written.select("bucket").distinct().as[String].collect().toSet
        === Set("clean", "quarantine"))
      // the clean side carries no error-severity violation at all
      val cleanIds = written.where(col("bucket") === "clean")
      val residual = Validator.violations(
          cleanIds.drop("bucket"), ruleSet, dims)
        .where(col("severity") === "error").count()
      assert(residual === 0L, "clean bucket must re-validate error-free")
      // directory layout prunes: bucket is a partition column on disk,
      // and (VERDICT r5 #4) source stays a partition level BELOW it, so the
      // split does not cost readers the input layout's source pruning
      assert(new java.io.File(s"$out/bucket=clean").isDirectory)
      assert(new java.io.File(s"$out/bucket=quarantine").isDirectory)
      val cleanSrcDirs = new java.io.File(s"$out/bucket=clean")
        .listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(cleanSrcDirs.nonEmpty &&
        cleanSrcDirs.forall(_.startsWith("source=")), cleanSrcDirs.toString)
      // a source-filtered read of the clean output prunes at the scan:
      // the partition filter appears in the plan, no post-scan Filter needed
      val pruned = spark.read.parquet(out)
        .where(col("bucket") === "clean" && col("source") === "A")
      val scan = pruned.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters") &&
        scan.contains("source"), scan.take(1200))
      val aRows = tok.where(col("source") === "A").count()
      assert(pruned.count() <= aRows && pruned.count() > 0)
    }
  }

  test("bucketed split-write: clean side re-validates exchange-free") {
    val tok = TokenTable.tokens(spark, sf0001)
    val ruleSet = graft.rules.RuleSet.default(TokenTable.Vocab)
    val dims = Map("allowed_sources" -> TokenTable.allowedDim(spark))
    withTempDir("graft_quarantine_bk") { out =>
      val tbl = "graft_spec_quarantine_bk"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      val written = Quarantine.splitWriteBucketed(
        spark, tok, ruleSet, dims, out, tbl)
      assert(written.count() === tok.count()) // still lossless
      // the repeat-validation payoff: uniqueness over the bucketed output
      // plans WITHOUT a corpus exchange (scan satisfies the distribution)
      val uniq = Validator.uniqueViolations(
        written.where(col("bucket") === "clean"),
        graft.rules.UniqueRule("u", "doc_id"))
      uniq.collect()
      val plan = uniq.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        plan.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    }
  }

  test("retention cohorts: offsets start at 0 and cohort sizes dominate") {
    val events = spark.read.parquet(s"$sf001/events.parquet")
    val r = EventOps.retentionCohorts(events)
    assert(r.where(col("week_offset") < 0).count() === 0L)
    // offset-0 count is the cohort size: no later offset may exceed it
    val w0 = r.where(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_users").as("n0"))
    val bad = r.join(w0, "cohort_week")
      .where(col("n_users") > col("n0")).count()
    assert(bad === 0L)
    // every user is in exactly one cohort: sum of offset-0 = distinct users
    val users = events.select("user_id").distinct().count()
    val sum0 = w0.agg(sum("n0")).as[Long].collect().head
    assert(sum0 === users)
  }
}
