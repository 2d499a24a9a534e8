package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Validator
import graft.rules.UniqueRule

/** Explicit salted two-phase uniqueness (north-star: "salted repartition
  * on skewed sources"), kept as an independent reference for
  * [[Validator.uniqueViolations]]: its output must be identical. Phase 1
  * aggregates on (key, salt) — a hot key's rows spread over `nSalt`
  * reducers; phase 2 re-aggregates the ≤ nSalt partials per key, so no
  * reducer ever owns a whole hot key. A test oracle, never a production
  * path.
  *
  * Why production does without it: the single-phase aggregate is already
  * skew-safe for COUNT because map-side partial aggregation ships at most
  * one partial row per key per map task. Salting becomes necessary when
  * partial aggregation is ineffective or the per-key state is big —
  * distinct-style aggregates, collect_list, large sketch buffers — or when
  * a single reduce key would otherwise exceed executor memory.
  *
  * The salt derives from per-row payload (hash of n_tok, source, tokens)
  * PLUS `spark_partition_id()`, not from randomness — reruns over the same
  * layout are deterministic, and the partition-id term guarantees spread
  * even for the classic exact-dup skew case where a hot key's rows are
  * byte-identical (payload-only salt would collapse them all into ONE salt
  * bucket, degenerating the two-phase split back to single-phase).
  */
object SaltedUniqueness {
  def violations(
      df: DataFrame, rule: UniqueRule, nSalt: Int = 16): DataFrame = {
    val keys = rule.keyColumns
    val salted = df.withColumn("_salt",
      pmod(hash(col("n_tok"), col("source"), col("tokens"),
        spark_partition_id()), lit(nSalt)))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(count(lit(1)).as("cnt1"), min(col("source")).as("src1"))
    val phase2 = phase1
      .groupBy(keys.map(col): _*)
      .agg(sum(col("cnt1")).as("cnt"), min(col("src1")).as("_src"))
      .where(col("cnt") > 1)
    phase2.select(Validator.uniqueKeyRendered(rule).as("doc_id"),
      lit(rule.id).as("rule_id"),
      concat(lit(s"${Validator.uniqueKeyLabel(rule)} occurs "),
        col("cnt").cast("string"), lit(" times")).as("detail"),
      lit(rule.severity).as("severity"), col("_src").as("source"))
  }
}
