package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Row-level diff between two snapshots of the token table — the piece that
  * turns the resumable lifecycle into an INCREMENTAL one: instead of
  * re-validating everything on a new snapshot (the reference re-pulls and
  * re-validates the full sample each run, /root/reference/extraction/
  * main.py:225-263), diff the snapshots and re-validate only the partitions
  * that actually changed.
  *
  * Diff semantics are multiset (`EXCEPT ALL`): a row counts as added /
  * removed per OCCURRENCE, so duplicate doc_ids — which the uniqueness rule
  * exists to catch — diff correctly (a snapshot that gains a second copy of
  * an existing row shows one `added` row, not zero). `exceptAll` plans as a
  * single hash-aggregate per side over the union (count per distinct tuple,
  * replicate the surplus) — one shuffle keyed by the full row, no join, no
  * driver-side state; AQE handles skewed tuples like any aggregate.
  */
object SnapshotDiff {

  /** Rows present in `cur` but not `prev` (`added`) and vice versa
    * (`removed`), multiset semantics, over the given comparison columns.
    * Columns default to the token table's scalar identity (tokens are
    * generated deterministically from doc_id in the fixture; at production
    * scale pass an explicit column list including a token digest).
    */
  def rowDiff(cur: DataFrame, prev: DataFrame,
      cols: Seq[String] = Seq("doc_id", "n_tok", "source", "okey")): DataFrame = {
    val c = cur.select(cols.map(col): _*)
    val p = prev.select(cols.map(col): _*)
    c.exceptAll(p).withColumn("change", lit("added"))
      .unionByName(p.exceptAll(c).withColumn("change", lit("removed")))
  }

  /** Tagged union + ONE per-tuple count aggregate — the shared core of the
    * planning views (round 7, guide §2.3/2.4): `rowDiff`'s two `exceptAll`
    * legs each scan BOTH snapshots (4 scans, 2 full-row shuffles); the
    * added/removed counts per tuple fall out of a single aggregate over
    * the tagged union (2 scans, 1 shuffle) as `max(c−p, 0)` / `max(p−c,
    * 0)` — the exact multiset-surplus arithmetic `EXCEPT ALL` replicates.
    */
  private def tupleCounts(cur: DataFrame, prev: DataFrame,
      cols: Seq[String]): DataFrame =
    cur.select(cols.map(col) :+ lit(1L).as("_c") :+ lit(0L).as("_p"): _*)
      .unionByName(
        prev.select(cols.map(col) :+ lit(0L).as("_c") :+ lit(1L).as("_p"): _*))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("_c")).as("_c"), sum(col("_p")).as("_p"))

  /** Per-(source, change) diff counts — the planning view: a source with any
    * diff rows must be re-validated, the rest resume from the manifest.
    * Same counts as aggregating [[rowDiff]] (each tuple contributes its
    * multiset surplus to `added` or `removed`), zero-count groups absent
    * exactly as diff-row-less groups were.
    */
  def diffBySource(cur: DataFrame, prev: DataFrame,
      cols: Seq[String] = Seq("doc_id", "n_tok", "source", "okey")): DataFrame =
    tupleCounts(cur, prev, cols)
      .groupBy("source")
      .agg(sum(greatest(col("_c") - col("_p"), lit(0L))).as("_added"),
        sum(greatest(col("_p") - col("_c"), lit(0L))).as("_removed"))
      .select(col("source"), explode(array(
        struct(lit("added").as("change"), col("_added").as("n_rows")),
        struct(lit("removed").as("change"), col("_removed").as("n_rows"))))
        .as("d"))
      .select(col("source"), col("d.change").as("change"),
        col("d.n_rows").as("n_rows"))
      .where(col("n_rows") > 0)

  /** Sentinel standing for the NULL source slice in [[changedSources]]
    * output. NULL is a real routing key — [[Validator.violations]]
    * sends null-source rows to the default rule set — so a changed
    * null-source row must flag its slice for re-validation rather than
    * silently escape it (ADVICE r5). Use [[sliceFilter]] to turn the
    * collected source list (sentinel included) back into a row predicate.
    */
  val NullSourceSentinel = "__null__"

  /** Sources whose content changed between the snapshots — feed this to the
    * resumable runner as the pending set (with unchanged sources marked ok
    * in the manifest) to make re-validation proportional to the CHANGE, not
    * the corpus. A changed NULL source surfaces as [[NullSourceSentinel]].
    */
  def changedSources(cur: DataFrame, prev: DataFrame,
      cols: Seq[String] = Seq("doc_id", "n_tok", "source", "okey")): DataFrame =
    // a source is changed iff ANY of its tuples has cur-count ≠ prev-count
    // — the same set rowDiff's added ∪ removed rows name, from one
    // aggregate instead of four snapshot scans
    tupleCounts(cur, prev, cols)
      .where(col("_c") =!= col("_p"))
      .select(coalesce(col("source"), lit(NullSourceSentinel)).as("source"))
      .distinct()

  /** Row predicate selecting exactly the slices named by a collected
    * [[changedSources]] list — translates [[NullSourceSentinel]] back into
    * an IS NULL test (an `isin` alone never matches NULL).
    */
  def sliceFilter(changed: Seq[String],
      sourceCol: org.apache.spark.sql.Column = col("source"))
      : org.apache.spark.sql.Column = {
    val named = changed.filterNot(_ == NullSourceSentinel)
    val base =
      if (named.isEmpty) lit(false) else sourceCol.isin(named: _*)
    if (changed.contains(NullSourceSentinel)) base || sourceCol.isNull
    else base
  }
}
