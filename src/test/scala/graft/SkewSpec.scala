package graft

import org.apache.spark.sql.functions._
import graft.engine.Validator
import graft.rules.ReferentialRule

/** Evidence for the claimed AQE skew handling (§2 row 37, Sessions
  * configs): a hot-key sort-merge join must be split by
  * OptimizeSkewedJoin at runtime, and the salted-uniqueness path must
  * stay correct on the same skewed input.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits a skewed sort-merge join at runtime") {
    // thresholds lowered so a ~MB-scale fixture triggers the optimizer;
    // restored after — production uses the defaults
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> util.Try(conf.get(k)).toOption.filter(_ != null))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // 50k rows of one hot key + a uniform tail, joined on the key
      val left = spark.range(0, 60000).select(
        when(col("id") < 50000, lit(7L)).otherwise(col("id")).as("k"),
        concat(lit("payload-"), col("id")).as("pad"))
      val right = spark.range(0, 2000)
        .select(col("id").as("k"), lit("dim").as("v"))
      // no aggregation on the join key downstream: OptimizeSkewedJoin
      // refuses to split when the join output must stay hash-distributed
      // on k (splitting would break the downstream requirement) — which is
      // itself part of the documented behavior here
      val joined = left.join(right.hint("merge"), Seq("k"))
      val rows = joined.collect()
      assert(rows.count(_.getLong(0) == 7L) === 50000)
      // inspect the SAME QueryExecution post-run: AQE's final plan marks
      // the split partitions of the skewed side with skew=true
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan.take(500))
      assert(plan.contains("skew=true"), plan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("salted uniqueness stays exact on the same hot-key distribution") {
    val rows = (1 to 5000).map(i =>
      graft.model.TokenRow(if (i <= 4000) "hot" else s"d$i",
        Array(i % 50), 1, if (i % 2 == 0) "A" else "N"))
    val df = spark.createDataset(rows).toDF().repartition(16)
    val rule = graft.rules.UniqueRule("unique_doc_id", "doc_id")
    val a = Validator.uniqueViolations(df, rule)
      .as[(String, String, String, String, String)].collect().toSet
    val b = SaltedUniqueness.violations(df, rule, nSalt = 8)
      .as[(String, String, String, String, String)].collect().toSet
    assert(a === b)
    assert(a.exists(v => v._1 == "hot" && v._3 == "doc_id occurs 4000 times"))
  }

  test("composite-key uniqueness: salted == flat on the hot distribution") {
    // VERDICT r5 #6: the struct-keyed generalization must keep the salted
    // two-phase form spec-equal, including when `source` is itself a key
    // column (the aggregate's source output aliases internally)
    val rows = (1 to 5000).map(i =>
      graft.model.TokenRow(if (i <= 4000) "hot" else s"d$i",
        Array(i % 50), 1, if (i % 2 == 0) "A" else "N"))
    val df = spark.createDataset(rows).toDF().repartition(16)
    val rule = graft.rules.UniqueRule("unique_doc_src", "doc_id",
      moreColumns = Seq("source"))
    val a = Validator.uniqueViolations(df, rule)
      .as[(String, String, String, String, String)].collect().toSet
    val b = SaltedUniqueness.violations(df, rule, nSalt = 8)
      .as[(String, String, String, String, String)].collect().toSet
    assert(a === b)
    // the hot key splits into its two composite halves
    assert(a.exists(v => v._1 == "hot|A" &&
      v._3 == "(doc_id,source) occurs 2000 times"))
    assert(a.exists(v => v._1 == "hot|N" &&
      v._3 == "(doc_id,source) occurs 2000 times"))
  }
}
