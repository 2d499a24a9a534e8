package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.engine.Drift

/** The KLL quantile sketch ([[Drift.sketchQuantiles]], Spark's built-in
  * `kll_sketch_*` functions) over frames: exact up to k items, within the
  * rank error above it, however the stream is partitioned.
  */
class KllBufferSpec extends SparkSpec {
  import spark.implicits._

  private def quantiles(df: org.apache.spark.sql.DataFrame, k: Int,
      ps: Seq[Double]): Seq[Double] =
    df.agg(Drift.sketchQuantiles(col("x"), k, ps)).first().getSeq[Double](0)

  test("exact for small streams (no compaction)") {
    // k items spread over 4 partitions: the merged sketch still holds every
    // item, so the quantile at p is the item of rank ceil(p·n) — the
    // s_window_drift oracle's rule
    val n = 200
    val xs = (0 until n).map(i => ((i * 37) % n).toDouble)
    val ps = Seq(0.01, 0.25, 0.5, 0.95, 1.0)
    val got = quantiles(xs.toDF("x").repartition(4), n, ps)
    val sorted = xs.sorted
    assert(got === ps.map(p => sorted(math.ceil(p * n).toInt - 1)))
  }

  test("approximate within rank error for large streams") {
    val n = 100000
    // permuted insert order (48271 is coprime to n)
    val df = spark.range(n)
      .select(((col("id") * 48271) % n).cast("double").as("x"))
    val ps = Seq(0.1, 0.5, 0.9)
    ps.zip(quantiles(df, 200, ps)).foreach { case (p, q) =>
      assert(math.abs(q / n - p) < 0.03, s"p=$p got=$q")
    }
  }

  test("merge ≈ single stream; serialization round-trips") {
    // the same stream over 8 partitions: 8 partial sketches serialize
    // through the exchange and merge
    val n = 50000
    val df = spark.range(n).select(col("id").cast("double").as("x"))
      .repartition(8)
    val ps = Seq(0.1, 0.5, 0.9)
    ps.zip(quantiles(df, 200, ps)).foreach { case (p, q) =>
      assert(math.abs(q / n - p) < 0.03, s"p=$p got=$q")
    }
  }

  test("property: quantiles are monotone and within observed range") {
    // 50 seeds, one group each, one aggregate job
    val rows = (1 to 50).flatMap { seed =>
      val rnd = new scala.util.Random(seed)
      Seq.fill(500)((seed, rnd.nextDouble() * 2e6 - 1e6))
    }
    val got = rows.toDF("seed", "x").groupBy("seed")
      .agg(Drift.sketchQuantiles(col("x"), 50, Seq(0.1, 0.5, 0.9)).as("qs"),
        min(col("x")).as("lo"), max(col("x")).as("hi"))
      .collect()
    assert(got.length === 50)
    got.foreach { r =>
      val qs = r.getSeq[Double](1)
      val seed = r.getInt(0)
      assert(qs(0) <= qs(1) && qs(1) <= qs(2), s"seed=$seed")
      assert(qs(0) >= r.getDouble(2) && qs(2) <= r.getDouble(3),
        s"seed=$seed")
    }
  }
}

class KllAggregateSpec extends SparkSpec {
  import spark.implicits._

  test("kll_quantiles as Catalyst aggregate matches exact percentile closely") {
    val df = (1 to 20000).map(i => (if (i % 2 == 0) "A" else "B", (i * 48271) % 997))
      .toDF("source", "v")
    val got = df.groupBy("source")
      .agg(Drift.sketchQuantiles(col("v"), 200, Seq(0.5)).as("qs"))
      .select(col("source"), col("qs")(0).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = df.groupBy("source")
      .agg(expr("percentile(v, 0.5)").as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (s, e) =>
      assert(math.abs(got(s) - e) / 997.0 < 0.05, s"source $s: ${got(s)} vs $e")
    }
  }

  test("kll aggregate is deterministic across partitionings") {
    val df = (1 to 5000).map(i => ("A", i)).toDF("source", "v")
    def run(parts: Int) = df.repartition(parts).groupBy("source")
      .agg(Drift.sketchQuantiles(col("v"), 200, Seq(0.25, 0.75)).as("qs"))
      .select(col("qs")(0), col("qs")(1)).collect().head
    // partial merge order may differ, but results must stay within error
    val a = run(2); val b = run(8)
    assert(math.abs(a.getDouble(0) - b.getDouble(0)) / 5000.0 < 0.05)
    assert(math.abs(a.getDouble(1) - b.getDouble(1)) / 5000.0 < 0.05)
  }

  test("an all-NULL group yields NaN per p; other groups are unaffected") {
    val df = ((1 to 10).map(i => ("A", Option(i))) ++
      Seq(("N", None), ("N", None))).toDF("source", "v")
    val agg = df.groupBy("source")
      .agg(Drift.sketchQuantiles(col("v"), 200, Seq(0.5, 0.95)).as("qs"))
    assert(agg.schema("qs").dataType ===
      ArrayType(DoubleType, containsNull = false))
    val got = agg.collect().map(r => r.getString(0) -> r.getSeq[Double](1))
      .toMap
    assert(got("A") === Seq(5.0, 10.0))
    assert(got("N").length === 2 && got("N").forall(_.isNaN))
  }
}
