package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{DetailedViolation, ManifestEntry}

/** Persisted per-partition violation artifacts — the piece that lets
  * `--report` on a RESUMED run cost zero extra rule passes.
  *
  * The reference writes its report from the issues it already collected
  * during the run (/root/reference/extraction/main.py:296-304); a naive
  * re-expression recomputes the full violations pipeline over the whole
  * table for the report even when the resumable runner just skipped every
  * completed partition — at 100 TB that doubles the run. Instead the runner
  * terminates its one rule pass in a WRITE of the detailed violations,
  * laid out
  *
  * {{{ baseDir/snap=<snapshotId>/gen=<runTs>/source=<partition>/part-….parquet }}}
  *
  * where `runTs` is the stamp of the checkpoint manifest entries the run
  * appends for the same partitions ([[Checkpoint]]). The manifest append
  * after the write is the commit: a generation's rows count for exactly the
  * partitions whose latest `ok` manifest entry carries its stamp
  * ([[Checkpoint.latestOk]]), so a write without manifest entries (a crash
  * between the two, or an aborted batched pass) is never read, and a
  * partition re-validated clean supersedes its stale rows without writing
  * any.
  *
  * Violations are a small fraction of the input (~2% on the fixture; the
  * design assumption everywhere in this engine), so the store is cheap to
  * write and to re-read. [[latest]] reads exactly the current (generation,
  * partition) slices — the big side never shuffles and superseded
  * generations are never read.
  *
  * Single-writer assumption: one resumable run appends to a snapshot at a
  * time (the scheduler's job-level lock; same contract as the manifest
  * appends and [[graft.operators.VectorIndex.compact]]). A writer stamps
  * above every stamp in the manifest, so [[prune]] beside it never deletes
  * the generation it is writing.
  */
object ViolationStore {

  private def snapDir(baseDir: String, snapshotId: Long): String =
    s"$baseDir/snap=$snapshotId"

  private def genDir(baseDir: String, snapshotId: Long, runTs: Long): String =
    s"${snapDir(baseDir, snapshotId)}/gen=$runTs"

  /** Append one generation of detailed violations
    * (doc_id, rule_id, detail, severity, source). Executing this write IS
    * the run's single rule pass — callers read the persisted copy back
    * rather than re-running the pipeline.
    */
  def persist(detailed: DataFrame, baseDir: String, snapshotId: Long,
      runTs: Long): Unit =
    detailed
      .select(col("doc_id"), col("rule_id"), col("detail"), col("severity"),
        col("source"))
      .write.mode(SaveMode.Append)
      .partitionBy("source")
      .parquet(genDir(baseDir, snapshotId, runTs))

  private def emptyViolations(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[DetailedViolation].toDF()
  }

  /** Read ONE generation back (the rows just persisted by [[persist]]). */
  def generation(spark: SparkSession, baseDir: String, snapshotId: Long,
      runTs: Long): DataFrame = {
    val dir = genDir(baseDir, snapshotId, runTs)
    if (!graft.sources.Fs.successExists(spark, dir)) emptyViolations(spark)
    else read(spark, dir)
  }

  /** All current violations at a snapshot — the frame a report assembles
    * from (zero rule passes). Each generation that holds a partition's
    * latest `ok` entry in `manifest` is read, filtered to exactly those
    * partitions; a referenced generation missing from the store fails the
    * read rather than reading as clean.
    */
  def latest(spark: SparkSession, baseDir: String, snapshotId: Long,
      manifest: Seq[ManifestEntry]): DataFrame = {
    val parts = Checkpoint.latestOk(manifest, snapshotId)
      .groupBy(_.run_ts).toSeq.sortBy(_._1).map { case (ts, es) =>
        // the slice filter prunes at the scan (source is the partition
        // column) and selects the NULL-source directory with IS NULL
        read(spark, genDir(baseDir, snapshotId, ts))
          .where(SnapshotDiff.sliceFilter(es.map(_.partition)))
      }
    if (parts.isEmpty) emptyViolations(spark)
    else parts.reduce(_.unionByName(_))
  }

  private val Schema = Encoders.product[DetailedViolation].schema

  /** Parquet read with the fixed [[DetailedViolation]] schema: building the
    * frame starts no footer-inference job, a committed generation with
    * ZERO violations (only `_SUCCESS`) reads as empty, and the `source`
    * partition column stays a string (a numeric-looking source directory
    * is not inferred as int).
    */
  private def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schema).parquet(dir)

  /** Delete the generations [[latest]] can no longer read: every `gen=`
    * directory that no current manifest entry references and whose stamp
    * is below the manifest's highest stamp (an in-flight writer stamps
    * above it, so its directory survives). Long-lived snapshots accumulate
    * one `gen=` directory per resumed run (the same append-bloat the ANN
    * indexes compact away); no data is read. Returns the number of
    * generations deleted.
    */
  def prune(spark: SparkSession, baseDir: String, snapshotId: Long,
      manifest: Seq[ManifestEntry]): Int = {
    val dir = new Path(snapDir(baseDir, snapshotId))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (manifest.isEmpty || !fs.exists(dir)) return 0
    val current = Checkpoint.latestOk(manifest, snapshotId).map(_.run_ts).toSet
    val top = manifest.iterator.map(_.run_ts).max
    val stale = fs.listStatus(dir).toSeq.map(_.getPath).filter { p =>
      p.getName.startsWith("gen=") &&
        p.getName.stripPrefix("gen=").toLongOption
          .exists(ts => ts < top && !current(ts))
    }
    stale.foreach(fs.delete(_, true))
    stale.size
  }
}
