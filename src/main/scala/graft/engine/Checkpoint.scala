package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.ManifestEntry
import graft.rules.RuleSet

/** Checkpoint manifest + resumable validation runs (north-star resumability;
  * the reference reruns from scratch each time and only timestamps its
  * report, /root/reference/extraction/main.py:296-304).
  *
  * The manifest is an append-only parquet table of [[ManifestEntry]] rows
  * keyed by (partition, snapshot_id) — the sandbox stand-in for an Iceberg
  * snapshot/partition manifest (no Iceberg jars in this environment; the
  * `snapshot_id` column + append-only parquet emulate the semantics behind
  * the same interface, SURVEY.md §7.4).
  *
  * Resume = anti-join the table's partitions against completed manifest
  * entries; the re-run job filters to pending partitions only (partition
  * pruning when the table is stored partitioned by `source`), so
  * re-submission never re-validates finished partitions.
  */
object Checkpoint {

  def read(spark: SparkSession, manifestPath: String): DataFrame = {
    import spark.implicits._
    if (graft.sources.Fs.exists(spark, manifestPath)) {
      val df = spark.read.parquet(manifestPath)
      // manifests written before the run_ts column existed must stay
      // readable (the latest-generation window orders by it): default the
      // missing column to generation 0 instead of schema-versioning the path
      if (df.columns.contains("run_ts")) df
      else df.withColumn("run_ts", lit(0L))
    } else spark.emptyDataset[ManifestEntry].toDF()
  }

  /** Next generation stamp: wall clock, bumped above any stamp already in
    * the manifest. `System.nanoTime()` is WRONG here — its origin is
    * arbitrary per JVM, so a resume from a new driver process could stamp
    * generations that sort BELOW an earlier process's entries and the
    * latest-per-partition window would pick a stale generation. Wall clock
    * orders across processes; the `max(existing)+1` floor keeps the stamp
    * monotonic even under clock skew between submitting hosts.
    */
  def nextRunTs(spark: SparkSession, manifestPath: String): Long = {
    val maxExisting = read(spark, manifestPath)
      .agg(coalesce(max(col("run_ts")), lit(0L))).head().getLong(0)
    math.max(System.currentTimeMillis(), maxExisting + 1)
  }

  /** Completed partitions AND the next generation stamp from ONE manifest
    * read (round 7): the resumable runner needed both and paid two
    * separate tiny read+collect jobs per leg; the manifest is partition ×
    * generation cardinality — driver-small by design — so one collect
    * serves both: the distinct partitions with an `ok` entry for
    * `snapshotId`, and the stamp [[nextRunTs]] would return.
    */
  def snapshotState(spark: SparkSession, manifestPath: String,
      snapshotId: Long): (Seq[String], Long) = {
    val rows = read(spark, manifestPath)
      .select(col("partition"), col("snapshot_id"), col("status"),
        col("run_ts"))
      .collect()
    val done = rows.iterator
      .filter(r => r.getLong(1) == snapshotId && r.getString(2) == "ok")
      .map(_.getString(0)).toSeq.distinct
    val maxTs = if (rows.isEmpty) 0L else rows.iterator.map(_.getLong(3)).max
    (done, math.max(System.currentTimeMillis(), maxTs + 1))
  }

  /** Append entries, stamping the generation (`run_ts`) so later
    * reconstruction can pick the newest entry per partition
    * deterministically across append generations (pass `runTs` to share one
    * generation stamp with a violation-artifact write, [[ViolationStore]]).
    */
  def append(spark: SparkSession, manifestPath: String,
      entries: Seq[ManifestEntry], runTs: Long = -1L): Unit = {
    import spark.implicits._
    val ts = if (runTs >= 0L) runTs else nextRunTs(spark, manifestPath)
    entries.map(_.copy(run_ts = ts)).toDS().toDF()
      .write.mode(SaveMode.Append).parquet(manifestPath)
  }

  /** Per-partition summary reconstructed from the manifest at a snapshot:
    * the LATEST ok generation per partition (several generations coexist in
    * the append-only manifest after a contained failure + resume, or a
    * re-run at the same snapshot). Columns match
    * [[graft.model.SourceSummary]].
    */
  def summaryAt(spark: SparkSession, manifestPath: String,
      snapshotId: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("partition")
      .orderBy(col("run_ts").desc, col("n_rows").desc)
    read(spark, manifestPath)
      .where(col("snapshot_id") === snapshotId && col("status") === "ok")
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("partition").as("source"), col("n_rows"),
        col("n_violations"), (col("n_violations") === 0).as("pass"))
  }
}

/** One resumable full-rule-set run over a token table. */
object ValidationRunner {

  final case class RunResult(
      validatedPartitions: Seq[String],
      skippedPartitions: Seq[String],
      summary: DataFrame,
      /** Partitions whose contained per-partition fallback FAILED — nonempty
        * means the run is partial (validated + skipped + failed covers all
        * partitions); callers must not misread a contained-failure run as
        * clean.
        */
      failedPartitions: Seq[String] = Nil)

  /** Validate all partitions not yet marked ok in the manifest at this
    * snapshot, append their metrics, and return the per-partition summary.
    *
    * Error containment (reference behavior, main.py:225-263): a partition
    * whose validation throws is recorded in the manifest with
    * status="error" and the run continues.
    */
  def runResumable(
      spark: SparkSession,
      tokens: DataFrame,
      ruleSet: RuleSet,
      dims: Map[String, DataFrame],
      manifestPath: String,
      snapshotId: Long): RunResult =
    runResumableWith(spark, tokens,
      df => Validator.violations(df, ruleSet, dims), manifestPath, snapshotId)

  /** Same lifecycle with a CALLER-SUPPLIED violations pipeline (routed
    * dispatch, custom rule vocabularies) — resume-by-anti-join, batched
    * fast path, per-partition containment fallback, manifest bookkeeping
    * all identical; only the validation plan differs.
    *
    * `violationsDir`, when set, persists the detailed violations of every
    * partition this run validates as a snapshot/generation-stamped artifact
    * ([[ViolationStore]]) — the run's ONE rule pass then terminates in that
    * write, the summary is computed from the persisted copy plus a
    * count-only scan of the slice, and a later report assembles from the
    * artifacts with ZERO additional rule passes
    * ([[graft.tools.Validate.run]]). Dataset-level rules (uniqueness) are
    * evaluated per validated slice by the resumable lifecycle's definition —
    * a fresh full run slices the whole table, so nothing changes there.
    */
  def runResumableWith(
      spark: SparkSession,
      tokens: DataFrame,
      violationsOf: DataFrame => DataFrame,
      manifestPath: String,
      snapshotId: Long,
      violationsDir: Option[String] = None): RunResult = {

    // NULL source is a real partition (the default-routed slice): it keys
    // the manifest under the sentinel and is selected back with an IS NULL
    // predicate via sliceFilter — a bare isin(null) never matches, which
    // would let every null-source row silently escape validation (the same
    // hole ADVICE r5 flagged in SnapshotDiff.changedSources)
    val all = tokens.select("source").distinct()
      .collect()
      .map(r => Option(r.getString(0))
        .getOrElse(SnapshotDiff.NullSourceSentinel))
      .toSeq.sorted
    // one manifest read serves both the resume set and the generation
    // stamp (round 7 — was two separate read+collect jobs per leg)
    val (done, runTs) = Checkpoint.snapshotState(spark, manifestPath, snapshotId)
    val pending = all.filterNot(done.toSet)

    if (pending.isEmpty) {
      // only ok rows: a failed attempt appends status='error:…' rows with
      // zeroed metrics; after a successful resume — or a re-run at the same
      // snapshot after upstream data changed — several ok generations
      // coexist in the append-only manifest. Keep the LATEST (max run_ts)
      // entry per partition, deterministically.
      return RunResult(Nil, all,
        Checkpoint.summaryAt(spark, manifestPath, snapshotId))
    }

    // fast path: one job over all pending partitions (not a per-partition
    // loop) — the filter prunes partitions at the scan when stored by source.
    // The WHOLE branch — including the ViolationStore write, which is where
    // the rule pass actually executes when violationsDir is set — evaluates
    // inside the containment try: a poison partition in the batched write
    // must fall through to the per-partition fallback, not abort the run
    // uncaught with zero manifest rows for the healthy partitions.
    val slice = tokens.where(SnapshotDiff.sliceFilter(pending))
    val t0 = System.nanoTime()
    var summary: DataFrame = null
    val rows = try {
      summary = (violationsDir match {
        case Some(vd) =>
          // the rule pass executes INSIDE this write; the summary below
          // reads the persisted rows back (tiny) + one count-only scan
          ViolationStore.persist(violationsOf(slice), vd, snapshotId, runTs,
            validatedSources = pending)
          Validator.summaryFromCounts(
            slice.groupBy("source").agg(count(lit(1)).as("n_rows")),
            ViolationStore.generation(spark, vd, snapshotId, runTs))
        case None =>
          Validator.summary(slice, violationsOf(slice))
      }).cache()
      summary.collect()
    } catch {
      case _: Throwable =>
        // containment with attribution (reference behavior, main.py:225-263):
        // the batched job failed somewhere — fall back to per-partition runs
        // so the error is attributed to the partition that caused it and
        // every healthy partition still completes and is checkpointed.
        // FRESH generation stamp: the fast path may have COMMITTED its
        // violation write before the summary read-back failed — appending
        // the fallback's per-partition writes into that same generation
        // would double every violation row. A newer generation instead
        // supersedes it cleanly (and prune() reclaims the orphan).
        val retryTs = math.max(
          Checkpoint.nextRunTs(spark, manifestPath), runTs + 1)
        val perPart = pending.map { p =>
          val one = tokens.where(SnapshotDiff.sliceFilter(Seq(p)))
          val tp = System.nanoTime()
          try {
            val s = violationsDir match {
              case Some(vd) =>
                ViolationStore.persist(violationsOf(one), vd, snapshotId,
                  retryTs, validatedSources = Seq(p))
                Validator.summaryFromCounts(
                  one.groupBy("source").agg(count(lit(1)).as("n_rows")),
                  ViolationStore.generation(spark, vd, snapshotId, retryTs)
                    .where(SnapshotDiff.sliceFilter(Seq(p)))).collect()
              case None =>
                Validator.summary(one, violationsOf(one)).collect()
            }
            val ms = (System.nanoTime() - tp) / 1000000
            if (s.isEmpty) ManifestEntry(p, snapshotId, "ok", 0L, 0L, ms)
            else ManifestEntry(p, snapshotId, "ok",
              s.head.getLong(1), s.head.getLong(2), ms)
          } catch {
            case e: Throwable =>
              ManifestEntry(p, snapshotId,
                s"error:${e.getClass.getSimpleName}", 0L, 0L,
                (System.nanoTime() - tp) / 1000000)
          }
        }
        Checkpoint.append(spark, manifestPath, perPart, retryTs)
        val okParts = perPart.filter(_.status == "ok").map(_.partition)
        val failed = perPart.filterNot(_.status == "ok").map(_.partition)
        import spark.implicits._
        val recovered = perPart.filter(_.status == "ok")
          .map(m => (m.partition, m.n_rows, m.n_violations, m.n_violations == 0))
          .toDF("source", "n_rows", "n_violations", "pass")
        return RunResult(okParts, done, recovered, failed)
    }
    val wallMs = (System.nanoTime() - t0) / 1000000
    val entries = rows.map { r =>
      ManifestEntry(
        Option(r.getString(0)).getOrElse(SnapshotDiff.NullSourceSentinel),
        snapshotId, "ok", r.getLong(1), r.getLong(2), wallMs)
    }.toSeq
    // sources with zero rows in this slice (possible under routing) still
    // need manifest rows so resume terminates
    val seen = entries.map(_.partition).toSet
    val empty = pending.filterNot(seen).map(p =>
      ManifestEntry(p, snapshotId, "ok", 0L, 0L, wallMs))
    Checkpoint.append(spark, manifestPath, entries ++ empty, runTs)
    RunResult(pending, done, summary)
  }
}
