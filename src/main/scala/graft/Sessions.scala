package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults:
  * AQE on (runtime re-plan, skew-join splitting, partition coalescing),
  * shuffle partitions sized to local cores (the driver contract; on a real
  * cluster this would be executors × cores × 2-3).
  */
object Sessions {
  def local(cpus: Int, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // local test tables are tens of MB; the 128 MB default packs the whole
      // scan into 1-2 splits and caps scan parallelism at 2 regardless of
      // cores. 8 MB/1 MB yields ~cores splits here; on a real cluster with
      // TB-scale inputs the defaults are correct and these should be unset.
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // same story post-shuffle: AQE's 64 MB advisory size coalesces these
      // small shuffles down to 1-2 reducers and serializes reduce stages;
      // 8 MB keeps ~cores reducers busy at test scale (default is right at
      // cluster scale)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      // partitioned-index reads (the ~2k-leaf banded-LSH layout) spend
      // ~3.6 s in partition discovery with the default threshold of 32:
      // Spark launches a DISTRIBUTED listing job with one task per
      // directory (2k tiny tasks ≈ 2 ms each), while the driver's own
      // listing pool walks the same local directories in ~0.1 s. Up to
      // this many paths the driver lists; a 100 TB object-store table
      // with far more partitions still distributes.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // engine SQL functions (dot_product, cosine_sim) — the same line a
      // cluster deployment passes to spark-submit
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
