package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic token-sequence table `(doc_id, tokens, n_tok, okey,
  * source)` derived from the driver's `lineitem.parquet` by pure
  * arithmetic, so every scalar fact about it is recomputable by the DuckDB
  * oracle (FIXTURES.md §3).
  *
  * Violations are injected at fixed congruence classes of
  * `key = l_orderkey*7 + l_linenumber` (cf. FIXTURES.md §2):
  *   - key %  97 == 0  → `n_tok` off by one        (length-consistency rule)
  *   - key % 101 == 0  → collapsed `doc_id`         (uniqueness rule)
  *   - key % 103 == 0  → `source = 'bogus'`         (referential rule)
  *   - key % 107 == 0  → `tokens = NULL`            (not-null rule)
  *   - key % 109 == 0  → first token out of vocab   (token-bounds rule)
  *
  * Everything is a Catalyst expression over the scan — no driver-side data
  * generation — so the derivation itself distributes and scales with the
  * input (the 100 TB deployment would read the real pre-tokenized table and
  * skip this derivation entirely).
  *
  * Each stored variant (`full`, `even`, `x<k>`, `wide<n>`) is built once by
  * [[Fs.materialize]] and read with the declared [[Schema]] (no inference
  * job). `_v2` in its directory is the derivation version: bump it when the
  * derivation or the schema changes, or the old one is served warm.
  */
object TokenTable {

  val Vocab = 50000

  /** The stored token table's schema, in the order a read returns it (the
    * `source` partition column last). Every read of a token cache uses it
    * instead of inferring it from the parquet footers.
    */
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("tokens", ArrayType(IntegerType)),
    StructField("n_tok", IntegerType),
    StructField("okey", LongType),
    StructField("source", StringType)))

  /** The token table's (column, type) contract — the schema the lifecycle
    * pre-gate ([[graft.engine.SchemaCheck]]) checks before a rule pass.
    */
  val ExpectedSchema: Seq[(String, String)] =
    Schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  /** Allowed values for `source` — the referential dimension (the analogue of
    * the reference's terminology-server value sets,
    * /root/reference/docker-compose.yml:32-46).
    */
  val AllowedSources: Seq[String] = Seq("A", "N", "R")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/lineitem.parquet")

  /** The engine's input table. The derivation from lineitem is test
    * scaffolding; the engine proper validates a STORED token table (the
    * north-star input is an Iceberg table of pre-tokenized sequences). So:
    * materialize the derived view once per (sfDir, snapshot) into a local
    * parquet table partitioned by `source`, and serve reads from it — the
    * realistic shape: vectorized columnar scan, partition pruning on
    * `source`, tokens read (not recomputed) by every downstream plan.
    */
  def tokens(spark: SparkSession, sfDir: String): DataFrame =
    materialized(spark, sfDir, "full")

  /** Deterministic baseline snapshot (even l_orderkey) for drift checks. */
  def tokensBaseline(spark: SparkSession, sfDir: String): DataFrame =
    materialized(spark, sfDir, "even")

  def materialized(spark: SparkSession, sfDir: String, variant: String): DataFrame =
    read(spark, materializedPath(spark, sfDir, variant))

  /** Path of the materialized table (builds it on first use) — handed to the
    * streaming file source, which needs a directory, not a DataFrame.
    */
  def materializedPath(spark: SparkSession, sfDir: String, variant: String = "full"): String = {
    // _v2: schema gained `okey` (FK to orders for the big-dimension
    // referential check) — the suffix invalidates pre-okey caches
    val dir = Fs.cacheDir(sfDir, s"${variant}_v2")
    Fs.materialize(spark, dir) {
      val li0 = lineitem(spark, sfDir)
      val li = if (variant == "even") li0.where(li0("l_orderkey") % 2 === 0)
               else li0
      write(fromLineitem(li), dir)
    }
  }

  private def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schema).parquet(dir)

  /** Cache writer: fixed 32-way layout with small parquet row groups,
    * partitioned by `partitionBy`.
    * Scan parallelism is bounded by ROW GROUPS, not byte-range splits — a
    * cache written by a low-core session as 4 × 1-row-group files capped
    * every later scan at 4 tasks regardless of requested cores.
    */
  private def write(df: DataFrame, dir: String,
      partitionBy: Seq[String] = Seq("source")): Unit =
    df.repartition(32)
      .write.mode("overwrite")
      .option("parquet.block.size", (8L * 1024 * 1024).toString)
      .partitionBy(partitionBy: _*)
      .parquet(dir)

  /** K-times scaled token table for scaling-efficiency runs: replica r
    * offsets l_orderkey by r·10⁷, so doc_ids stay distinct across replicas
    * and every injected-violation congruence class reappears at the same
    * rate — same workload character, K× the volume. Materialized once.
    */
  def tokensScaled(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val dir = Fs.cacheDir(sfDir, s"x${k}_v2")
    read(spark, Fs.materialize(spark, dir) {
      val li = lineitem(spark, sfDir)
      val replicas = spark.range(k).toDF("r")
      val scaled = li.crossJoin(replicas)
        .withColumn("l_orderkey", li("l_orderkey") + col("r") * 10000000L)
        .drop("r")
      write(fromLineitem(scaled), dir)
    })
  }

  /** WIDENED token table for high-cardinality routing: `source` gains an
    * okey-derived bucket suffix (`A` → `A_17`), turning the 4-source
    * fixture into a `4 × nSets` source domain — the shape an 827-profile
    * per-code dispatch actually sees. MATERIALIZED (not a `withColumn`
    * view): the routed gates filter on `source`, and a computed column can
    * never reach parquet row-group stats or partition pruning — the stored
    * column is the 100 TB-correct layout, and the wide specs/bench stop
    * re-deriving the concat per scan.
    */
  def tokensWide(spark: SparkSession, sfDir: String, nSets: Int): DataFrame = {
    val dir = Fs.cacheDir(sfDir, s"wide${nSets}_v2")
    read(spark, Fs.materialize(spark, dir) {
      val t = tokens(spark, sfDir).withColumn("source",
        concat(col("source"), lit("_"), (col("okey") % nSets).cast("string")))
      // no partitionBy: thousands of wide sources × small fixture would mean
      // thousands of tiny files; row-group stats on the stored column still
      // serve the gates
      write(t, dir, partitionBy = Nil)
    })
  }

  /** Token view over an arbitrary lineitem slice (drift baselines carve
    * deterministic sub-snapshots by filtering the scan first).
    */
  def fromLineitem(liRaw: DataFrame): DataFrame =
    fromLineitemKeyed(liRaw).drop("key")

  /** Same derivation, keeping the injection key `l_orderkey*7+l_linenumber`
    * as a column — used by fixtures that need further deterministic
    * corruption keyed off the same congruence scheme (e.g. the JSON-ingest
    * corpus, [[JsonIngest]]).
    */
  def fromLineitemKeyed(liRaw: DataFrame): DataFrame = {
    // The driver's sf files are single-row-group parquet → a 1-task scan.
    // The token derivation below is higher-order-function work (no codegen),
    // so spread it across the cluster first. Real deployments read an
    // already-partitioned token table and skip this (and the scan has many
    // row groups, so the guard keeps this a no-op there).
    val target = liRaw.sparkSession.sparkContext.defaultParallelism
    // toRdd (internal-row RDD) reads the physical plan's partitioning
    // without appending the Row-deserialization stage `.rdd` would build
    val li = if (liRaw.queryExecution.toRdd.getNumPartitions < target)
      liRaw.repartition(target) else liRaw
    val key = (li("l_orderkey") * 7 + li("l_linenumber")).cast("bigint")
    val nTrue = li("l_quantity").cast("int")
    li.select(
      key.as("key"),
      when(key % 101 === 0,
        concat(lit("dup-"), (li("l_orderkey") % 13).cast("string")))
        .otherwise(concat(li("l_orderkey").cast("string"), lit("-"),
          li("l_linenumber").cast("string")))
        .as("doc_id"),
      when(key % 107 === 0, lit(null))
        .otherwise(
          transform(sequence(lit(0), nTrue - 1), j =>
            when(j === 0 && key % 109 === 0,
              (lit(Vocab) + key % 7).cast("int"))
              .otherwise(((key * 31 + j * 17) % Vocab).cast("int"))))
        .as("tokens"),
      (nTrue + when(key % 97 === 0, lit(1)).otherwise(lit(0))).as("n_tok"),
      when(key % 103 === 0, lit("bogus")).otherwise(li("l_returnflag"))
        .as("source"),
      // FK to the orders dimension (big-dimension referential checks)
      li("l_orderkey").cast("bigint").as("okey"))
  }

  /** DuckDB CTE producing the same scalar columns (token arrays included for
    * completeness; scalar oracles do not depend on them). Keep in lockstep
    * with [[tokens]].
    */
  val duckCte: String =
    """tok AS (
      |  SELECT
      |    CASE WHEN (l_orderkey*7 + l_linenumber) % 101 = 0
      |         THEN 'dup-' || CAST(l_orderkey % 13 AS VARCHAR)
      |         ELSE CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) END AS doc_id,
      |    CAST(l_quantity AS INT) + CASE WHEN (l_orderkey*7 + l_linenumber) % 97 = 0 THEN 1 ELSE 0 END AS n_tok,
      |    CASE WHEN (l_orderkey*7 + l_linenumber) % 103 = 0 THEN 'bogus' ELSE l_returnflag END AS source,
      |    (l_orderkey*7 + l_linenumber) AS key,
      |    CAST(l_quantity AS INT) AS n_true,
      |    ((l_orderkey*7 + l_linenumber) % 107 = 0) AS tokens_null,
      |    l_orderkey AS okey
      |  FROM lineitem
      |)""".stripMargin

  /** The allowed-source dimension as a DataFrame (broadcast-joined by the
    * referential rule; stand-in for an external dimension table).
    */
  def allowedDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    AllowedSources.toDF("allowed_source")
  }
}
