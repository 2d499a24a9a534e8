package graft.engine

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{ManifestEntry, SourceSummary}

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

  private val ManifestSchema = Encoders.product[ManifestEntry].schema

  /** The manifest as a frame. Building it starts no job: the schema is the
    * fixed [[ManifestEntry]] one, so no parquet footer is read for
    * inference. Manifests written before the `run_ts` column existed read
    * that column as NULL, which is generation 0.
    */
  def read(spark: SparkSession, manifestPath: String): DataFrame = {
    import spark.implicits._
    if (graft.sources.Fs.exists(spark, manifestPath))
      spark.read.schema(ManifestSchema).parquet(manifestPath)
        .withColumn("run_ts", coalesce(col("run_ts"), lit(0L)))
    else spark.emptyDataset[ManifestEntry].toDF()
  }

  /** The whole manifest on the driver: one small collect. The manifest is
    * partition × generation cardinality, driver-small by design, so every
    * bookkeeping question of a run ([[completed]], [[nextStamp]],
    * [[latestOk]]) is answered from this one read.
    */
  def load(spark: SparkSession, manifestPath: String): Seq[ManifestEntry] = {
    import spark.implicits._
    read(spark, manifestPath).as[ManifestEntry].collect().toSeq
  }

  /** Partitions with an `ok` entry at `snapshotId`. */
  def completed(entries: Seq[ManifestEntry], snapshotId: Long): Seq[String] =
    entries.iterator
      .filter(e => e.snapshot_id == snapshotId && e.status == "ok")
      .map(_.partition).toSeq.distinct

  /** Next generation stamp: wall clock, bumped above any stamp already in
    * the manifest. `System.nanoTime()` is WRONG here — its origin is
    * arbitrary per JVM, so a resume from a new driver process could stamp
    * generations that sort BELOW an earlier process's entries and the
    * latest-per-partition pick would choose a stale generation. Wall clock
    * orders across processes; the `max(existing)+1` floor keeps the stamp
    * monotonic even under clock skew between submitting hosts.
    */
  private[engine] def nextStamp(entries: Seq[ManifestEntry]): Long =
    math.max(System.currentTimeMillis(),
      entries.iterator.map(_.run_ts).foldLeft(0L)(math.max) + 1)

  /** The LATEST ok entry per partition at a snapshot: several generations
    * coexist in the append-only manifest after a contained failure +
    * resume, or a re-run at the same snapshot. Highest `run_ts` wins, then
    * the larger `n_rows`. Error rows (zeroed metrics) never count.
    */
  private[graft] def latestOk(entries: Seq[ManifestEntry], snapshotId: Long)
      : Seq[ManifestEntry] =
    entries
      .filter(e => e.snapshot_id == snapshotId && e.status == "ok")
      .groupBy(_.partition).values
      .map(_.maxBy(e => (e.run_ts, e.n_rows)))
      .toSeq.sortBy(_.partition)

  /** Append entries, stamping the generation (`run_ts`) so later
    * reconstruction can pick the newest entry per partition
    * deterministically across append generations (pass `runTs` to share one
    * generation stamp with a violation-artifact write, [[ViolationStore]]).
    */
  def append(spark: SparkSession, manifestPath: String,
      entries: Seq[ManifestEntry], runTs: Long = -1L): Unit = {
    import spark.implicits._
    val ts = if (runTs >= 0L) runTs else nextStamp(load(spark, manifestPath))
    entries.map(_.copy(run_ts = ts)).toDS().toDF()
      .write.mode(SaveMode.Append).parquet(manifestPath)
  }

  /** Manifest entries as a driver-local frame with the columns of
    * [[SourceSummary]]. The NULL-source partition, keyed in the manifest
    * by [[SnapshotDiff.NullSourceSentinel]], reads back as a NULL source,
    * the same value the table holds.
    */
  private[graft] def summaryFrame(spark: SparkSession,
      es: Seq[ManifestEntry]): DataFrame = {
    import spark.implicits._
    es.map { e =>
      SourceSummary(
        if (e.partition == SnapshotDiff.NullSourceSentinel) null
        else e.partition,
        e.n_rows, e.n_violations, e.n_violations == 0)
    }.toDF()
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
      failedPartitions: Seq[String] = Nil,
      /** The manifest as the run left it: the entries it loaded plus the
        * ones it appended (stamped). Pass it to [[ViolationStore.latest]] and
        * [[ViolationStore.prune]] — no second manifest read.
        */
      manifest: Seq[ManifestEntry] = Nil)

  /** Validate all partitions not yet marked ok in the manifest at this
    * snapshot with the caller's violations pipeline `violationsOf` (e.g.
    * `Validator.violations` under a routing), append their metrics, and
    * return the per-partition summary: resume-by-anti-join, a batched fast
    * path, a per-partition containment fallback and the manifest
    * bookkeeping.
    *
    * The bookkeeping rides on rows the driver collects anyway: one census
    * aggregate over `tokens` gives the partition list and every
    * partition's `n_rows`; one manifest collect gives the resume set, the
    * generation stamp and, on a leg with nothing pending, the summary; a
    * per-source count of the violations gives `n_violations`. The summary
    * is built on the driver from those rows and returned as a local frame
    * (nothing is cached, so nothing outlives the run).
    *
    * `violationsDir`, when set, persists the detailed violations of every
    * partition this run validates as a snapshot/generation-stamped artifact
    * ([[ViolationStore]]) — the run's ONE rule pass then terminates in that
    * write, the violation counts are read from the generation just
    * written, and the manifest append that follows commits it: a later
    * report assembles from the artifacts the returned manifest references,
    * with ZERO additional rule passes ([[graft.tools.Validate.run]]).
    * Dataset-level rules (uniqueness) are evaluated per validated slice by
    * the resumable lifecycle's definition — a fresh full run slices the
    * whole table, so nothing changes there.
    *
    * Containment with attribution (reference behavior, main.py:225-263):
    * when the batched job over all pending partitions fails, they are
    * re-run one by one under a FRESH generation stamp, so the error is
    * attributed to the partition that caused it and every healthy
    * partition still completes and is checkpointed. The fast path may have
    * written its generation before failing; appending the fallback's rows
    * into it would double them, while a generation no manifest entry
    * references is never read (and [[ViolationStore.prune]] reclaims it).
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
    val census = countBySource(tokens)
    val all = census.keys.toSeq.sorted
    val manifest = Checkpoint.load(spark, manifestPath)
    val done = Checkpoint.completed(manifest, snapshotId)
    val runTs = Checkpoint.nextStamp(manifest)
    val pending = all.filterNot(done.toSet)

    if (pending.isEmpty)
      return RunResult(Nil, all, Checkpoint.summaryFrame(spark,
        Checkpoint.latestOk(manifest, snapshotId)), manifest = manifest)

    // Validate the partitions `parts` as generation `stamp` (the filter
    // prunes partitions at the scan when stored by source) and count their
    // violations per partition. With a store the rule pass executes inside
    // the write, and the counts read the persisted rows back (tiny).
    def countSlice(parts: Seq[String], stamp: Long): Map[String, Long] = {
      val slice = tokens.where(SnapshotDiff.sliceFilter(parts))
      violationsDir match {
        case Some(vd) =>
          ViolationStore.persist(violationsOf(slice), vd, snapshotId, stamp)
          countBySource(ViolationStore.generation(spark, vd, snapshotId, stamp)
            .where(SnapshotDiff.sliceFilter(parts)))
        case None =>
          countBySource(violationsOf(slice))
      }
    }
    def ok(p: String, counts: Map[String, Long], t0: Long) =
      ManifestEntry(p, snapshotId, "ok", census(p), counts.getOrElse(p, 0L),
        (System.nanoTime() - t0) / 1000000)

    // fast path: one job over all pending partitions (not a per-partition
    // loop). The WHOLE slice — including the ViolationStore write — runs
    // inside the containment try: a poison partition in the batched write
    // must fall through to the per-partition fallback, not abort the run
    // uncaught with zero manifest rows for the healthy partitions.
    val t0 = System.nanoTime()
    val (stamp, entries) =
      try {
        val counts = countSlice(pending, runTs)
        (runTs, pending.map(ok(_, counts, t0)))
      } catch {
        case _: Throwable =>
          // `runTs` is already above every stamp in the manifest, and under
          // the single-writer contract nothing has been appended since, so
          // `runTs + 1` is the only floor
          val retryTs = math.max(System.currentTimeMillis(), runTs + 1)
          (retryTs, pending.map { p =>
            val tp = System.nanoTime()
            try ok(p, countSlice(Seq(p), retryTs), tp)
            catch {
              case e: Throwable =>
                ManifestEntry(p, snapshotId,
                  s"error:${e.getClass.getSimpleName}", 0L, 0L,
                  (System.nanoTime() - tp) / 1000000)
            }
          })
      }
    Checkpoint.append(spark, manifestPath, entries, stamp)
    val appended = entries.map(_.copy(run_ts = stamp))
    val (okEntries, failed) = appended.partition(_.status == "ok")
    RunResult(okEntries.map(_.partition), done,
      Checkpoint.summaryFrame(spark, okEntries), failed.map(_.partition),
      manifest ++ appended)
  }

  /** Row count per source, collected, keyed like the manifest (a NULL
    * source under [[SnapshotDiff.NullSourceSentinel]]).
    */
  private def countBySource(df: DataFrame): Map[String, Long] =
    df.groupBy("source").count().collect().map { r =>
      Option(r.getString(0)).getOrElse(SnapshotDiff.NullSourceSentinel) ->
        r.getLong(1)
    }.toMap
}
