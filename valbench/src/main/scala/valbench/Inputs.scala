package valbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TokenTable

/** Seeded benchmark inputs, generated into the benchmark's own data
  * directory and derived through the engine's public
  * [[TokenTable.fromLineitem]].
  *
  * The lineitem is synthetic and shaped like the TPC-H-style sf0.1 table the
  * engine's registry reads, at a quarter of its rows: 150k rows,
  * `l_orderkey` uniform over 37.5k keys, `l_linenumber` 1..7, `l_quantity`
  * 1..50, `l_returnflag` uniform over A/N/R, with natural
  * `(l_orderkey, l_linenumber)` collisions. Its shape is fixed (base seed
  * 42); the benchmark seed only shifts `l_orderkey` by 1 to 9·10^6. That
  * changes which rows hit the injected-violation congruence classes, the
  * doc_ids and the token arrays, while every per-rule rate stays the same.
  */
object Inputs {

  val Rows = 150000L
  val OrderKeys = 37500L

  def orderkeyShift(seed: Long): Long =
    1L + java.lang.Math.floorMod(seed * 2654435761L + 12345L, 9000000L)

  /** The seeded lineitem. */
  def lineitem(spark: SparkSession, seed: Long): DataFrame = {
    def h(salt: Int, m: Long) =
      pmod(xxhash64(lit(42L), lit(salt), col("id")), lit(m))
    spark.range(0, Rows, 1, spark.sparkContext.defaultParallelism)
      .select(
        (h(1, OrderKeys) + lit(orderkeyShift(seed))).as("l_orderkey"),
        (h(2, 7L) + 1).cast("int").as("l_linenumber"),
        (h(3, 50L) + 1).cast("double").as("l_quantity"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (h(4, 3L) + 1).cast("int")).as("l_returnflag"))
  }

  final case class Paths(dataDir: String) {
    def tokens: String = s"$dataDir/tokens"
  }

  /** The seeded even-orderkey drift baseline. The derivation is row-local
    * and `okey = l_orderkey`, so this slice of the token table equals
    * `fromLineitem` over the even-orderkey lineitem slice.
    */
  def baseline(tokens: DataFrame): DataFrame = tokens.where(col("okey") % 2 === 0)

  /** Write the token table in the engine's materialized-cache layout
    * (partitioned by `source`, 8 MB row groups) with 8 files per partition
    * instead of 32.
    */
  def generate(spark: SparkSession, seed: Long, dataDir: String): Unit = {
    val t0 = System.nanoTime()
    TokenTable.fromLineitem(lineitem(spark, seed))
      .repartition(8).write.mode("overwrite")
      .option("parquet.block.size", (8L * 1024 * 1024).toString)
      .partitionBy("source").parquet(Paths(dataDir).tokens)
    println(f"[valbench] generated $dataDir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
