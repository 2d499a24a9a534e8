package graft

import org.apache.spark.sql.functions._
import graft.engine.Drift
import graft.model.TokenRow

class DriftSpec extends SparkSpec {
  import spark.implicits._

  private def mk(src: String, lens: Seq[Int]) =
    lens.zipWithIndex.map { case (n, i) =>
      TokenRow(s"$src-$i", Array.fill(n)(1), n, src)
    }

  test("no drift when current == baseline") {
    val df = mk("A", 1 to 100).toDF
    val d = Drift.exactQuantileDrift(df, df, "n_tok", Seq(0.5, 0.9), 1.0)
      .collect().head
    assert(d.getAs[Double]("delta_avg") === 0.0)
    assert(!d.getAs[Boolean]("drifted"))
  }

  test("shifted distribution is flagged") {
    val base = mk("A", 1 to 100).toDF
    val cur = mk("A", 51 to 150).toDF
    val d = Drift.exactQuantileDrift(cur, base, "n_tok", Seq(0.5), 1.0)
      .collect().head
    assert(d.getAs[Boolean]("drifted"))
    assert(math.abs(d.getAs[Double]("delta_avg") - 50.0) < 1e-9)
  }

  test("sketch drift agrees with exact drift on clear shifts") {
    val base = mk("A", 1 to 2000).toDF
    val cur = mk("A", 1001 to 3000).toDF
    val s = Drift.sketchQuantileDrift(cur, base, "n_tok", 200, Seq(0.5), 100.0)
      .collect().head
    assert(s.getAs[Boolean]("drifted"))
    assert(math.abs(s.getAs[Double]("max_delta") - 1000.0) < 200.0)
  }

  test("fused stats+sketch equals the standalone sketch drift") {
    // the bench full pass rides the drift sketch on the stats aggregate —
    // the fused frame must give the standalone path's verdicts, with one
    // fewer scan. Above k items the two sketches compact independently
    // (randomized), so their quantiles are compared through the rank
    // bracket, not for equality.
    val ps = Seq(0.5, 0.95)
    val cur = mk("A", 1 to 800).toDF.unionByName(mk("N", 1 to 300).toDF)
    val base = mk("A", 1 to 400).toDF
    val fusedStats = graft.engine.StatsOps
      .columnStatsWithQuantiles(cur, 200, ps)
    // source N is absent from the baseline: max_delta is null on BOTH
    // paths (full-outer join semantics) — extract null-safely
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          if (r.isNullAt(2)) None else Some(r.getBoolean(2)))).toMap
    val viaFused = rows(Drift.sketchDriftFromQuantiles(
      fusedStats, base, "n_tok", 200, ps, 10.0))
    val standalone = rows(Drift.sketchQuantileDrift(
      cur, base, "n_tok", 200, ps, 10.0))
    assert(viaFused.keySet === Set("A", "N"))
    assert(standalone.keySet === viaFused.keySet)
    assert(viaFused("N") === ((None, None)))
    assert(standalone("N") === ((None, None)))
    assert(viaFused("A")._1.isDefined && standalone("A")._1.isDefined)
    assert(viaFused("A")._2 === Some(true))
    assert(standalone("A")._2 === Some(true))
    // both paths' current-side quantiles lie inside the rank bracket of
    // Drift.sketchRankBound: between the exact quantiles at p∓6/k
    val eps = Drift.kllRankEps(200)
    val bracket = cur.groupBy("source").agg(
      expr(s"floor(percentile(n_tok, ${0.5 - eps}))").as("lo0"),
      expr(s"ceil(percentile(n_tok, ${0.5 + eps}))").as("hi0"),
      expr(s"floor(percentile(n_tok, ${0.95 - eps}))").as("lo1"),
      expr(s"ceil(percentile(n_tok, ${math.min(1.0, 0.95 + eps)}))")
        .as("hi1"))
    val standaloneQs = cur.groupBy("source")
      .agg(Drift.sketchQuantiles(col("n_tok"), 200, ps).as("cur_qs"))
    for (qs <- Seq(fusedStats.select("source", "cur_qs"), standaloneQs)) {
      val within = qs.join(bracket, Seq("source")).select(col("source"),
        col("cur_qs")(0).between(col("lo0"), col("hi0")) &&
          col("cur_qs")(1).between(col("lo1"), col("hi1")))
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(within === Map("A" -> true, "N" -> true))
    }
    // and the stats columns still match the unfused stats
    val plain = graft.engine.StatsOps.columnStats(cur)
      .select("source", "n_rows", "min_n_tok", "max_n_tok").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet
    val fusedCols = fusedStats
      .select("source", "n_rows", "min_n_tok", "max_n_tok").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(fusedCols === plain)
  }

  test("rank-space sketch bound holds, and tightens with k") {
    // the bracket from the KLL rank guarantee (eps = 6/k): the sketch's
    // quantile value must lie between the exact quantiles at p∓eps — true
    // at the production k and at a coarser k (wider bracket)
    val df = mk("A", 1 to 5000).toDF.unionByName(mk("N", 500 to 4000).toDF)
    for (k <- Seq(32, 200)) {
      val rows = Drift.sketchRankBound(df, "n_tok", k, Seq(0.5, 0.95),
        integerValued = true).collect()
      assert(rows.length === 2)
      assert(rows.forall(r => r.getBoolean(1) && r.getBoolean(2)),
        s"k=$k bracket violated")
    }
    // eps really narrows as k grows
    assert(Drift.kllRankEps(2000) < Drift.kllRankEps(200))
  }

  test("PSI drift: zero on identical, large on disjoint, monotone in shift") {
    val base = mk("A", 1 to 100).toDF
    val same = Drift.psiDrift(base, base, "n_tok", 10, 0.1).collect().head
    assert(same.getAs[Double]("psi") === 0.0)
    assert(!same.getAs[Boolean]("drifted"))
    // a full distribution shift (disjoint buckets) scores far above any
    // threshold: every bucket's share moves between ~1/10 and the 1e-6
    // floor, each term ~0.1·ln(10^5)
    val shifted = mk("A", (1 to 100).map(_ + 200)).toDF
    val far = Drift.psiDrift(shifted, base, "n_tok", 10, 0.1).collect().head
    assert(far.getAs[Boolean]("drifted"))
    assert(far.getAs[Double]("psi") > 2.0)
    // a mild shift scores between the two
    val mild = mk("A", (1 to 100).map(_ + 15)).toDF
    val mid = Drift.psiDrift(mild, base, "n_tok", 10, 0.1).collect().head
    assert(mid.getAs[Double]("psi") > 0.0 &&
      mid.getAs[Double]("psi") < far.getAs[Double]("psi"))
  }

  test("token histogram drift: zero on identical, positive on disjoint") {
    val a = Seq(TokenRow("x", Array(10, 20, 30), 3, "A")).toDF
    val b = Seq(TokenRow("y", Array(5010, 5020, 5030), 3, "A")).toDF
    val same = Drift.tokenHistogramDrift(a, a, 1000).collect().head
    assert(same.getAs[Double]("l1_distance") === 0.0)
    val diff = Drift.tokenHistogramDrift(a, b, 1000).collect().head
    assert(math.abs(diff.getAs[Double]("l1_distance") - 2.0) < 1e-9)
  }
}
