package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import graft.model.DetailedViolation

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
  * mirroring the checkpoint manifest's generations: each resumable run
  * appends one `gen=` directory holding the violations of the partitions it
  * actually validated. Reconstruction ([[latest]]) keeps each source's
  * newest COMMITTED generation — the same latest-per-partition selection
  * the manifest summary uses, so a partition re-validated after a contained
  * failure supersedes its stale rows.
  *
  * Commit protocol: a generation counts only once its `_SUCCESS` marker
  * exists (written by the parquet committer). A run that crashed mid-write
  * leaves files but no `_SUCCESS`; [[latest]] and [[prune]] ignore such
  * directories entirely — an uncommitted generation can neither win a
  * source nor cause the deletion of the committed generation it was
  * superseding.
  *
  * Presence protocol: a partition re-validated CLEAN writes no `source=`
  * subdirectory (there are no rows), which would otherwise let an older
  * generation's stale violations win the per-source max. [[persist]]
  * therefore also records the set of sources the run VALIDATED in a
  * `_validated_*` sidecar inside the generation directory (underscore
  * prefix: invisible to Spark's file discovery); per-source winners are
  * computed over rows ∪ validated-markers, so a clean re-validation masks
  * its stale predecessors even though it contributes zero rows.
  *
  * Violations are a small fraction of the input (~2% on the fixture; the
  * design assumption everywhere in this engine), so the store is cheap to
  * write and to re-read. [[latest]] is a pure metadata computation plus a
  * read of exactly the winning (generation, source) directories — the big
  * side never shuffles and superseded generations are never read.
  *
  * Single-writer assumption: one resumable run appends to a snapshot at a
  * time (the scheduler's job-level lock; same contract as the manifest
  * appends and [[graft.operators.VectorIndex.compact]]). [[prune]] running
  * beside an active writer is safe for COMMITTED generations — it never
  * deletes a generation that still wins any source — but the write of a
  * new generation must not race another write of the SAME `runTs`.
  */
object ViolationStore {

  private def snapDir(baseDir: String, snapshotId: Long): String =
    s"$baseDir/snap=$snapshotId"

  /** Append one generation of detailed violations
    * (doc_id, rule_id, detail, severity, source). Executing this write IS
    * the run's single rule pass — callers read the persisted copy back
    * rather than re-running the pipeline.
    *
    * `validatedSources` is the full set of partitions this run validated
    * (a superset of the sources that produced rows); it is recorded as a
    * presence sidecar so clean partitions supersede their older
    * generations. Callers that cannot name the slice pass Nil and fall
    * back to rows-only presence (pre-sidecar layouts stay readable).
    */
  def persist(detailed: DataFrame, baseDir: String, snapshotId: Long,
      runTs: Long, validatedSources: Seq[String] = Nil): Unit = {
    val dir = s"${snapDir(baseDir, snapshotId)}/gen=$runTs"
    detailed
      .select(col("doc_id"), col("rule_id"), col("detail"), col("severity"),
        col("source"))
      .write.mode(SaveMode.Append)
      .partitionBy("source")
      .parquet(dir)
    if (validatedSources.nonEmpty) {
      val spark = detailed.sparkSession
      // content-hashed name: the per-partition containment fallback appends
      // several single-source persists into ONE generation — each call gets
      // its own sidecar file and the reader unions them. Identical source
      // sets collide onto an identical file, which is a harmless overwrite.
      val name = f"_validated_${validatedSources.sorted.mkString("\n").hashCode}%08x"
      val p = new Path(dir, name)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      try out.write(validatedSources.sorted.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  private def emptyViolations(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[DetailedViolation].toDF()
  }

  /** Read ONE generation back (the rows just persisted by [[persist]]). */
  def generation(spark: SparkSession, baseDir: String, snapshotId: Long,
      runTs: Long): DataFrame = {
    val dir = s"${snapDir(baseDir, snapshotId)}/gen=$runTs"
    if (!graft.sources.Fs.successExists(spark, dir)) emptyViolations(spark)
    else read(spark, dir)
  }

  /** One committed generation's metadata: stamp, path, sources with rows,
    * and sources validated (rows ∪ sidecars). Directories without
    * `_SUCCESS` are excluded — see the commit protocol above.
    */
  private final case class Gen(
      ts: Long, path: Path, withRows: Set[String], present: Set[String])

  /** The source a `source=<name>` directory holds, keyed like the
    * validated-sources sidecars and the manifest: Spark writes a NULL
    * partition value as the Hive default-partition directory, which keys
    * under [[SnapshotDiff.NullSourceSentinel]].
    */
  private def sourceOfDir(name: String): String =
    if (name == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      SnapshotDiff.NullSourceSentinel
    else unescapePartitionValue(name)

  /** Spark escapes special characters in partition directory names as %XX
    * (`source=a%2Fb`); undo that so directory-derived source names compare
    * equal to the raw strings in the validated-sources sidecars.
    */
  private def unescapePartitionValue(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append('%'); i += 1 }
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private def committedGens(fs: FileSystem, dir: Path): Seq[Gen] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
      .flatMap { s =>
        scala.util.Try(s.getPath.getName.stripPrefix("gen=").toLong)
          .toOption.filter(_ => fs.exists(new Path(s.getPath, "_SUCCESS")))
          .map { g =>
            val children = fs.listStatus(s.getPath).toSeq
            val withRows = children
              .filter(c => c.isDirectory &&
                c.getPath.getName.startsWith("source="))
              .map(c => sourceOfDir(
                c.getPath.getName.stripPrefix("source="))).toSet
            val marked = children
              .filter(c => c.isFile &&
                c.getPath.getName.startsWith("_validated_"))
              .flatMap { c =>
                val in = fs.open(c.getPath)
                try scala.io.Source.fromInputStream(in, "UTF-8")
                  .getLines().toList
                finally in.close()
              }.filter(_.nonEmpty).toSet
            Gen(g, s.getPath, withRows, withRows ++ marked)
          }
      }

  /** Per-source winning generation over committed generations only:
    * presence (rows or a validated-sidecar entry) at the highest stamp.
    */
  private def winners(gens: Seq[Gen]): Map[String, Long] =
    gens.flatMap(g => g.present.map(_ -> g.ts))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap

  /** All violations at a snapshot, each source contributing its NEWEST
    * committed generation — the frame a report assembles from (zero rule
    * passes). Reads exactly the winning (generation, source) directories:
    * superseded generations cost listing only, and a source whose winning
    * generation validated it CLEAN contributes nothing even if older
    * generations still hold its stale rows.
    */
  def latest(spark: SparkSession, baseDir: String,
      snapshotId: Long): DataFrame = {
    val dir = new Path(snapDir(baseDir, snapshotId))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return emptyViolations(spark)
    val gens = committedGens(fs, dir)
    val win = winners(gens)
    // per generation, the sources it WINS and actually has rows for; the
    // slice filter prunes at the scan (source is the partition column) and
    // selects the NULL-source directory with IS NULL
    val parts = gens.flatMap { g =>
      val mine = g.withRows.filter(s => win(s) == g.ts)
      if (mine.isEmpty) None
      else Some(read(spark, g.path.toString)
        .where(SnapshotDiff.sliceFilter(mine.toSeq.sorted)))
    }
    if (parts.isEmpty) emptyViolations(spark)
    else parts.reduce(_.unionByName(_))
  }

  private val Schema = Encoders.product[DetailedViolation].schema

  /** Parquet read with the fixed [[DetailedViolation]] schema: building the
    * frame starts no footer-inference job, a committed generation with
    * ZERO violations (only `_SUCCESS` + sidecars) reads as empty, and the
    * `source` partition column stays a string (a numeric-looking source
    * directory is not inferred as int).
    */
  private def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(Schema).parquet(dir)

  /** Delete generations that are fully SUPERSEDED — every source PRESENT in
    * them (rows or validated-sidecar) also appears in a newer COMMITTED
    * generation, so [[latest]] can never select a row from them and their
    * clean-markers mask nothing that a newer generation doesn't mask too.
    * Long-lived snapshots accumulate one `gen=` directory per resumed run
    * (the same append-bloat the ANN indexes compact away); pruning is a
    * pure metadata computation — no data is read. Returns the number of
    * generations deleted.
    *
    * Uncommitted directories (no `_SUCCESS`) are ignored on BOTH sides:
    * they never count as a winner (an uncommitted write must not cause the
    * deletion of the committed generation it would supersede) and they are
    * never deleted (they may be an in-flight writer's — see the
    * single-writer note above; clean them up out of band if a crash is
    * known).
    */
  def prune(spark: SparkSession, baseDir: String, snapshotId: Long): Int = {
    val dir = new Path(snapDir(baseDir, snapshotId))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return 0
    val gens = committedGens(fs, dir)
    val win = winners(gens)
    var removed = 0
    gens.foreach { g =>
      if (g.present.nonEmpty && g.present.forall(src => win(src) > g.ts)) {
        fs.delete(g.path, true)
        removed += 1
      }
    }
    removed
  }
}
