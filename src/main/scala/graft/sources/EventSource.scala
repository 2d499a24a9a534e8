package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** The driver's event table `(event_id, ts, user_id, event_type, value,
  * props)` — the event-time source for the streaming drift monitor (the
  * unbounded analogue of the reference's per-run count comparison,
  * /root/reference/extraction/main.py:270-293).
  *
  * Batch reads go straight at the parquet file; the streaming file source
  * needs a DIRECTORY, so the table is materialized once into the local
  * cache (multi-file, the shape a streaming ingest directory has). Every
  * event stream (`s_event_dedup_wm`, `s_sessionize`, `s_window_drift`)
  * reads that one cache.
  */
object EventSource {

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def events(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")

  /** Path of the 16-file events cache (built on first use). */
  def materializedPath(spark: SparkSession, sfDir: String): String = {
    val dir = Fs.cacheDir(sfDir, "events")
    Fs.materialize(spark, dir) {
      events(spark, sfDir).repartition(16)
        .write.mode("overwrite").parquet(dir)
    }
  }
}
