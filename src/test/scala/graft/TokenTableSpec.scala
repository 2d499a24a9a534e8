package graft

import org.apache.spark.sql.functions._
import graft.sources.{Fs, TokenTable}

/** Ground-truth invariant (BASELINE.json input_hint): per-row token-array
  * equality between the engine's read-back and the closed-form generator.
  */
class TokenTableSpec extends SparkSpec {

  /** Closed-form replica of the generator for one row — the per-row
    * token-array-equality ground truth (BASELINE.json input_hint) checked
    * against Spark's read-back of the same row.
    */
  private def expectedTokens(orderkey: Long, linenumber: Int,
      quantity: Int): Option[Array[Int]] = {
    val key = orderkey * 7 + linenumber
    if (key % 107 == 0) None
    else Some(Array.tabulate(quantity) { j =>
      if (j == 0 && key % 109 == 0) (TokenTable.Vocab + key % 7).toInt
      else ((key * 31 + j * 17) % TokenTable.Vocab).toInt
    })
  }

  test("token-array equality: Spark derivation matches closed form per row") {
    // the driver's synthetic lineitem has duplicate (orderkey, linenumber)
    // keys — compare only rows whose doc_id occurs exactly once on each side
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity").collect()
      .groupBy(r => s"${r.getLong(0)}-${r.getInt(1)}")
      .collect { case (k, rows) if rows.length == 1 => k -> rows.head }
    val tok = TokenTable.tokens(spark, sf0001)
      .select("doc_id", "tokens").collect()
      .groupBy(_.getString(0))
      .collect { case (k, rows) if rows.length == 1 =>
        k -> Option(rows.head.getSeq[Int](1)).map(_.toArray) }
    var checked = 0
    li.foreach { case (docId, r) =>
      val (ok, ln, q) = (r.getLong(0), r.getInt(1), r.getDouble(2).toInt)
      if ((ok * 7 + ln) % 101 != 0) { // collapsed dup ids → skip
        val expected = expectedTokens(ok, ln, q)
        tok.get(docId).foreach { got =>
          assert(got.map(_.toSeq) === expected.map(_.toSeq),
            s"token mismatch for $docId")
          checked += 1
        }
      }
    }
    assert(checked > 100)
  }

  test("injected violation rates appear at the expected congruence classes") {
    val t = TokenTable.tokens(spark, sf001).cache()
    try {
      val nulls = t.filter(col("tokens").isNull).count()
      val bogus = t.filter(col("source") === "bogus").count()
      val lenBad = t.filter(col("tokens").isNotNull &&
        size(col("tokens")) =!= col("n_tok")).count()
      assert(nulls > 0 && bogus > 0 && lenBad > 0)
      val n = t.count()
      // roughly n/107, n/103, n/97 (modulo overlap with the null class)
      assert(math.abs(nulls - n / 107.0) / n < 0.01)
      assert(math.abs(bogus - n / 103.0) / n < 0.01)
      assert(math.abs(lenBad - n / 97.0) / n < 0.01)
    } finally t.unpersist()
  }

  test("fan-out (§2 rows 36/37): scan splits and reducers track cores") {
    // the reference fans out with a process pool; the engine's analogue is
    // task parallelism — the materialized table must expose enough row
    // groups that a scan is not serialized, and shuffles must use the
    // configured reducer count with AQE active
    val t = TokenTable.tokens(spark, sf001)
    assert(t.rdd.getNumPartitions >= 8,
      s"scan splits = ${t.rdd.getNumPartitions}")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt >= 4)
    // the map side actually spreads over tasks (reduce-side counts are
    // AQE-coalesced at this tiny scale — that is correct behavior)
    val mapTasks = t
      .select(org.apache.spark.sql.functions.spark_partition_id().as("p"))
      .distinct().count()
    assert(mapTasks >= 8, s"map tasks = $mapTasks")
  }

  test("schema matches the input hint") {
    val t = TokenTable.tokens(spark, sf0001)
    val fields = t.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    assert(fields("doc_id") == "STRING")
    assert(fields("tokens") == "ARRAY<INT>")
    assert(fields("n_tok") == "INT")
    assert(fields("source") == "STRING")
  }

  test("building a frame over a warm token cache starts no job") {
    val frames = Seq[(String, () => Unit)](
      "tokens" -> (() => TokenTable.tokens(spark, sf0001)),
      "tokensBaseline" -> (() => TokenTable.tokensBaseline(spark, sf0001)),
      "tokensWide(4)" -> (() => TokenTable.tokensWide(spark, sf0001, 4)))
    frames.foreach(_._2()) // warm every cache first
    frames.foreach { case (name, build) =>
      val n = jobsIn(build())
      assert(n === 0, s"building $name over a warm cache started $n jobs")
    }
  }

  test("the declared Schema is the schema every token cache stores") {
    TokenTable.tokensBaseline(spark, sf0001)
    TokenTable.tokensWide(spark, sf0001, 4) // reads (and builds) full too
    Seq("full_v2", "even_v2", "wide4_v2").foreach { suffix =>
      val inferred = spark.read.parquet(Fs.cacheDir(sf0001, suffix)).schema
      assert(inferred === TokenTable.Schema, suffix)
    }
  }

  test("cache directories: <root>/[<scope>/]<input dir tag>_<suffix>") {
    val root = sys.env.getOrElse("GRAFT_TOK_CACHE", "/tmp/graft_tok_cache")
    assert(TokenTable.materializedPath(spark, sf0001) ===
      s"$root/${sf0001.replaceAll("[^A-Za-z0-9.]", "_")}_full_v2")
    assert(Fs.cacheDir("/data/sf-0.01", "docs") ===
      s"$root/_data_sf_0.01_docs")
    assert(Fs.cacheDir("/data/sf-0.01", "metrics", "app-7") ===
      s"$root/app-7/_data_sf_0.01_metrics")
  }
}
