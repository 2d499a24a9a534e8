package graft.sources

import org.apache.spark.sql.SparkSession

/** Multi-file materialization of the `documents` table for the streaming
  * file source (which consumes a DIRECTORY of files micro-batch by
  * micro-batch — the driver's single-file parquet would collapse to one
  * batch and exercise no cross-batch state).
  */
object DocSource {

  /** Path of the 16-file documents cache (built on first use). */
  def materializedDocs(spark: SparkSession, sfDir: String): String = {
    val dir = Fs.cacheDir(sfDir, "docs")
    Fs.materialize(spark, dir) {
      spark.read.parquet(s"$sfDir/documents.parquet")
        .repartition(16)
        .write.mode("overwrite").parquet(dir)
    }
  }
}
