package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift checks: compare the current snapshot's per-source
  * distributions against a baseline snapshot (the formalization of the
  * reference's manual cross-run count comparison,
  * /root/reference/extraction/main.py:270-293 + report_visualizer.py:21-57).
  *
  * Paths:
  *  - [[exactQuantileDrift]]: exact `percentile` — the correctness anchor,
  *    DuckDB-oracle-comparable, viable at test scale.
  *  - [[sketchQuantileDrift]]: KLL sketch ([[sketchQuantiles]], Spark's
  *    built-in `kll_sketch_*` functions) — the 10^12-row path; partial
  *    sketches merge at the exchange, no sort.
  *  - [[tokenHistogramDrift]]: L1 distance between normalized per-source
  *    token-bucket histograms (map-side explode + two-phase agg).
  */
object Drift {

  /** Exact per-source quantile + mean drift between two snapshots of the
    * same schema. Output: one row per source present in either snapshot.
    */
  def exactQuantileDrift(
      current: DataFrame, baseline: DataFrame, column: String,
      ps: Seq[Double], threshold: Double): DataFrame = {
    def aggs(df: DataFrame, pfx: String): DataFrame = {
      val qs = ps.zipWithIndex.map { case (p, i) =>
        expr(s"percentile($column, $p)").as(s"${pfx}_q$i")
      }
      df.groupBy("source").agg(avg(col(column)).as(s"${pfx}_avg"), qs: _*)
    }
    val cur = aggs(current, "cur")
    val base = aggs(baseline, "base")
    val joined = cur.join(base, Seq("source"), "full_outer")
    val deltas = ps.indices.map(i =>
      abs(col(s"cur_q$i") - col(s"base_q$i")).as(s"delta_q$i"))
    val maxDelta = ps.indices.map(i => abs(col(s"cur_q$i") - col(s"base_q$i")))
      .reduce((a, b) => greatest(a, b))
    joined.select(
      col("source") +:
        abs(col("cur_avg") - col("base_avg")).as("delta_avg") +:
        deltas :+
        (maxDelta > threshold).as("drifted"): _*)
  }

  /** Approximate quantiles of `c` at probabilities `ps` as ONE aggregate
    * column (`array<double>`, one entry per p), from Spark's built-in KLL
    * sketch with parameter `k` (datasketches' `KllDoublesSketch`).
    *
    * A `TypedImperativeAggregate`: partial sketches are built map-side and
    * merged at the exchange, so a group ships O(k log n) bytes instead of
    * its rows. Up to k items per group the sketch holds every item and the
    * quantile at p is exactly the item of rank ceil(p·n); above k,
    * compaction is randomized, so two runs over the same data may differ
    * within [[kllRankEps]].
    *
    * A group whose column is all NULL yields NaN per p (the unguarded
    * built-in throws on the empty sketch).
    */
  def sketchQuantiles(c: Column, k: Int, ps: Seq[Double]): Column =
    when(count(c) > 0,
      kll_sketch_get_quantile_double(
        kll_sketch_agg_double(c.cast("double"), k), lit(ps.toArray)))
      .otherwise(array(ps.map(_ => lit(Double.NaN)): _*))

  /** KLL-sketch variant — same shape, approximate quantiles, mergeable
    * partials (the shape that scales; correctness anchored by the exact
    * variant in tests).
    */
  def sketchQuantileDrift(
      current: DataFrame, baseline: DataFrame, column: String,
      k: Int, ps: Seq[Double], threshold: Double): DataFrame =
    sketchDriftFromQuantiles(
      current.groupBy("source")
        .agg(sketchQuantiles(col(column), k, ps).as("cur_qs")),
      baseline, column, k, ps, threshold)

  /** Drift verdict from PRE-COMPUTED current-side sketch quantiles
    * (source, cur_qs) — the fusion hook: when the pipeline already
    * aggregated the current snapshot ([[StatsOps.columnStatsWithQuantiles]]
    * rides the sketch on the stats scan), re-scanning it for the drift
    * compare is a wasted full pass; only the (smaller) baseline side
    * aggregates here.
    */
  def sketchDriftFromQuantiles(
      curQs: DataFrame, baseline: DataFrame, column: String,
      k: Int, ps: Seq[Double], threshold: Double): DataFrame = {
    val joined = curQs.select(col("source"), col("cur_qs"))
      .join(baselineQuantiles(baseline, column, k, ps), Seq("source"),
        "full_outer")
    joined.select(col("source") +: maxDeltaVerdict(ps, threshold): _*)
  }

  /** The baseline side of every sketch drift compare:
    * (source, base_qs) — [[sketchQuantiles]] per source of `baseline`.
    */
  def baselineQuantiles(
      baseline: DataFrame, column: String, k: Int,
      ps: Seq[Double]): DataFrame =
    baseline.groupBy("source")
      .agg(sketchQuantiles(col(column), k, ps).as("base_qs"))

  /** The drift verdict over a frame carrying `cur_qs` and `base_qs`:
    * `max_delta` (the largest |cur − base| over the ps) and
    * `drifted` (`max_delta > threshold`). A source missing from one side
    * reads NULL in both.
    */
  def maxDeltaVerdict(ps: Seq[Double], threshold: Double): Seq[Column] = {
    val maxDelta = ps.indices.map(i =>
      abs(col("cur_qs")(i) - col("base_qs")(i)))
      .reduce((a, b) => greatest(a, b))
    Seq(maxDelta.as("max_delta"), (maxDelta > threshold).as("drifted"))
  }

  /** Rank-space error budget of the KLL sketch. The library's own
    * single-rank bound (99% confidence,
    * `KllSketch.getNormalizedRankError(k, false)`) reads 0.0790 at k=32,
    * 0.0133 at k=200 and 0.00142 at k=2000; `6/k` (0.1875, 0.03, 0.003)
    * stays above it at every k, decays as O(1/k) like the KLL bound
    * (Karnin–Lang–Liberty Thm 1), and so TIGHTENS automatically as k
    * grows — no hand-tuned value-space slack.
    */
  def kllRankEps(k: Int): Double = 6.0 / k

  /** Per-source rank-space bracket for the sketch: the sketch's quantile at
    * probability p is an ITEM whose rank is within ±eps·n of p·n, so its
    * VALUE must lie between the exact quantiles at p∓eps — the value-space
    * image of the KLL rank guarantee. `integerValued` floors/ceils the
    * envelope: on an integer column the exact interpolated quantile can sit
    * strictly between attainable item values, which would fail the bracket
    * for a sketch value that is rank-correct.
    *
    * Output: (source, within_q0, within_q1, …) — one boolean per p.
    */
  def sketchRankBound(
      df: DataFrame, column: String, k: Int, ps: Seq[Double],
      integerValued: Boolean = false): DataFrame = {
    val eps = kllRankEps(k)
    val sk = df.groupBy("source")
      .agg(sketchQuantiles(col(column), k, ps).as("sk"))
    val exactAggs = ps.zipWithIndex.flatMap { case (p, i) =>
      val lo = math.max(0.0, p - eps)
      val hi = math.min(1.0, p + eps)
      Seq(expr(s"percentile($column, $lo)").as(s"_lo$i"),
        expr(s"percentile($column, $hi)").as(s"_hi$i"))
    }
    val exact = df.groupBy("source").agg(exactAggs.head, exactAggs.tail: _*)
    def env(c: Column, isLo: Boolean): Column =
      if (integerValued) { if (isLo) floor(c) else ceil(c) } else c
    sk.join(exact, Seq("source"))
      .select(col("source") +: ps.indices.map(i =>
        (col("sk")(i) >= env(col(s"_lo$i"), isLo = true) &&
         col("sk")(i) <= env(col(s"_hi$i"), isLo = false))
          .as(s"within_q$i")): _*)
  }

  /** Population Stability Index over a bucketed numeric column — the
    * standard production drift score (sum over buckets of
    * `(p_cur − p_base) · ln(p_cur / p_base)`; rule of thumb: <0.1 stable,
    * >0.25 shifted). Same physical shape as [[tokenHistogramDrift]]: two
    * histogram aggregates, one tiny full-outer join, window totals —
    * never a re-scan for the totals. Zero shares are floored at 1e-6
    * (explicitly, so the oracle replays the identical arithmetic); the
    * final score is rounded to 6 decimals because the per-bucket double
    * terms sum in nondeterministic order (1e-16-level noise — the L1
    * variant avoids this with exact integer cross-products, but PSI's
    * logarithm has no integer form).
    */
  def psiDrift(current: DataFrame, baseline: DataFrame, colName: String,
      bucketWidth: Int, threshold: Double): DataFrame = {
    def hist(df: DataFrame, cName: String): DataFrame =
      df.groupBy(col("source"),
          floor(col(colName) / bucketWidth.toDouble).cast("bigint")
            .as("bucket"))
        .agg(count(lit(1)).as(cName))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val eps = 1e-6
    hist(current, "cur_cnt")
      .join(hist(baseline, "base_cnt"), Seq("source", "bucket"), "full_outer")
      .select(col("source"),
        coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"),
        coalesce(col("base_cnt"), lit(0L)).as("base_cnt"))
      .select(col("source"), col("cur_cnt"), col("base_cnt"),
        sum(col("cur_cnt")).over(w).as("cur_tot"),
        sum(col("base_cnt")).over(w).as("base_tot"))
      // a source absent from one SIDE entirely (e.g. fully quarantined
      // from the current table, or new since the baseline) has total 0
      // there: its per-bucket share is the epsilon floor across the
      // board — maximal PSI, i.e. the vanish/appear case IS drift — and
      // the division is guarded (ANSI mode throws on 0/0)
      .select(col("source"),
        greatest(when(col("cur_tot") > 0,
          col("cur_cnt").cast("double") / col("cur_tot"))
          .otherwise(lit(0.0)), lit(eps)).as("pc"),
        greatest(when(col("base_tot") > 0,
          col("base_cnt").cast("double") / col("base_tot"))
          .otherwise(lit(0.0)), lit(eps)).as("pb"))
      .groupBy("source")
      .agg(round(sum((col("pc") - col("pb")) * log(col("pc") / col("pb"))), 6)
        .as("psi"))
      .select(col("source"), col("psi"),
        (col("psi") > threshold).as("drifted"))
  }

  /** L1 distance between normalized per-source histograms of token values
    * (bucketed by `bucketSize`). The explode is map-local; the aggregate is
    * two-phase keyed by (source, bucket) then (source) — no row-level join.
    */
  def tokenHistogramDrift(
      current: DataFrame, baseline: DataFrame, bucketSize: Int): DataFrame = {
    def hist(df: DataFrame, cName: String): DataFrame =
      df.where(col("tokens").isNotNull)
        .select(col("source"),
          explode(col("tokens")).as("t"))
        .groupBy(col("source"),
          floor(col("t") / bucketSize.toDouble).cast("bigint").as("bucket"))
        .agg(count(lit(1)).as(cName))
    val cur = hist(current, "cur_cnt")
    val base = hist(baseline, "base_cnt")
    // per-source totals as WINDOW sums over the JOINED histogram, not
    // separate re-aggregations: the total subtrees would re-scan (and
    // re-explode) both token tables — measured 11 scans where 2 suffice.
    // The window's input is sources × buckets rows (tiny), one extra
    // shuffle by source.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
    // exact integer arithmetic throughout, one final division: the result is
    // bit-identical regardless of aggregation order (and engine) — summing
    // double ratios would be order-dependent. The cross products run in
    // DecimalType(38,0): per-source token totals above ~3e9 would silently
    // wrap a BIGINT product (non-ANSI mode) at the module's 10^12-row target.
    val dec = "decimal(38,0)"
    cur.join(base, Seq("source", "bucket"), "full_outer")
      .select(col("source"),
        coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"),
        coalesce(col("base_cnt"), lit(0L)).as("base_cnt"))
      .select(col("source"), col("cur_cnt"), col("base_cnt"),
        sum(col("cur_cnt")).over(w).as("cur_tot"),
        sum(col("base_cnt")).over(w).as("base_tot"))
      .select(col("source"), col("cur_tot"), col("base_tot"),
        abs(col("cur_cnt").cast(dec) * col("base_tot").cast(dec) -
          col("base_cnt").cast(dec) * col("cur_tot").cast(dec))
          .as("num"))
      .groupBy("source")
      .agg((sum(col("num")).cast("double") /
        (max(col("cur_tot")).cast(dec) * max(col("base_tot")).cast(dec))
          .cast("double"))
        .as("l1_distance"))
  }
}
