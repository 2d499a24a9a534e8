package graft

import org.apache.spark.sql.functions._
import graft.engine.{Repair, Validator}
import graft.rules._
import graft.sources.TokenTable

class RepairSpec extends SparkSpec {
  import spark.implicits._

  private val rules = Seq(
    LengthConsistencyRule("len_fix", "tokens", "n_tok"),
    RangeRule("cap_fix", "n_tok", 1, 25))

  // pairwise-CONSISTENT set (different columns): closure must hold exactly
  private val consistent = Seq(
    LengthConsistencyRule("len_fix", "tokens", "n_tok"),
    RangeRule("cap_okey", "okey", 1, 1000))

  test("repaired table re-validates clean against the repairable rules") {
    val tok = TokenTable.tokens(spark, sf0001)
    val rules = consistent
    val before = Validator.violations(tok, RuleSet("r", rules), Map.empty).count()
    assert(before > 0L, "fixture must exercise both fixes")
    val fixed = Repair.repaired(tok, rules).drop("_repairs")
    assert(Validator.violations(fixed, RuleSet("r", rules), Map.empty).count() === 0L)
    // lossless: same rows, untouched rows byte-identical
    assert(fixed.count() === tok.count())
    val touched = Repair.repaired(tok, rules)
      .where(size(col("_repairs")) > 0).count()
    assert(touched > 0L && touched <= before)
  }

  test("fixes apply in rule order; the clamp sees the fixed length") {
    val d = Seq(
      // stale length 99; actual size 30 → len fix to 30, then clamp to 24
      (1L, (1 to 30).toSeq, 99, "A"),
      // consistent but over cap → clamp only
      (2L, Seq(1, 2), 2, "A"),
      (3L, (1 to 30).toSeq, 30, "A"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val r = Repair.repaired(d, rules).orderBy("doc_id")
      .select(col("n_tok"), col("_repairs"))
      .as[(Int, Seq[String])].collect().toSeq
    assert(r(0) === ((24, Seq("len_fix", "cap_fix"))))
    assert(r(1) === ((2, Seq.empty[String])))
    assert(r(2) === ((24, Seq("cap_fix"))))
  }

  test("non-repairable rules are filtered out; nothing changes, audit empty") {
    val d = Seq((1L, "A")).toDF("doc_id", "source")
    assert(Repair.repairable(Seq(NotNullRule("nn", "doc_id"))).isEmpty)
    val out = Repair.repaired(d, Seq(NotNullRule("nn", "doc_id")))
    assert(out.drop("_repairs").collect() === d.collect())
    assert(Repair.audit(d, Seq(NotNullRule("nn", "doc_id"))).count() === 0L)
  }
}
