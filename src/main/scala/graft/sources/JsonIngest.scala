package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON-lines ingestion with syntactic-validity checking (SURVEY.md §2 rows
  * 5 and 13): the engine analogue of the reference's per-page JSON decode
  * (/root/reference/extraction/fhir.py:81) where a malformed record is
  * itself a validation failure
  * (/root/reference/test/data/condition/condition_fail.json:23 is
  * deliberately invalid JSON) — but unlike the reference, which ABORTS the
  * page cursor on a decode error (fhir.py:89-91), a corrupt line here
  * becomes a `parse` violation row and the scan continues (error containment
  * as rows, the same policy as main.py:225-263).
  *
  * Mechanics: PERMISSIVE JSON source with `columnNameOfCorruptRecord` — the
  * parse happens in the distributed scan (no driver involvement), corrupt
  * lines surface as rows with the raw text in `_corrupt`, and the split into
  * valid-rows / parse-violations is two codegen'd filters over one scan.
  */
object JsonIngest {

  val Corrupt = "_corrupt"

  /** Token-stream schema plus the corrupt-record column. */
  val schema: StructType = graft.streaming.StreamingValidation.tokenSchema
    .add(Corrupt, StringType)

  /** Read a JSON-lines corpus; corrupt lines land in `_corrupt`.
    *
    * Implemented as a text scan + `from_json` rather than the JSON file
    * source: Spark forbids querying the corrupt-record column straight off a
    * raw JSON scan (it would force a second parse), while `from_json` makes
    * the raw line a real column — one distributed parse, corrupt column
    * freely queryable, and the text scan splits by row groups/blocks exactly
    * like any other file scan.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(from_json(col("value"), schema, Map(
        "mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> Corrupt)).as("p"))
      .select(col("p.*"))

  /** Rows that parsed cleanly, in token-table shape. */
  def validRows(df: DataFrame): DataFrame =
    df.where(col(Corrupt).isNull).drop(Corrupt)

  /** Syntactic violations: one row per corrupt line, `rule_id = "parse"`.
    * The doc_id is salvaged from the raw text when recoverable (the
    * reference's generalized-location idea applied to parse errors).
    */
  def parseViolations(df: DataFrame): DataFrame =
    df.where(col(Corrupt).isNotNull)
      .select(
        coalesce(col("doc_id"),
          nullif(regexp_extract(col(Corrupt),
            "\"doc_id\"\\s*:\\s*\"([^\"]*)\"", 1), lit("")),
          lit("<unparseable>")).as("doc_id"),
        lit("parse").as("rule_id"),
        concat(lit("malformed JSON: "),
          substring(col(Corrupt), 0, 40)).as("detail"),
        lit("fatal").as("severity"))

  // ---- deterministic fixture corpus ----------------------------------------

  /** JSON-lines rendering of the keyed token view, with lines at
    * `key % 113 == 0` truncated mid-array (deliberately malformed, doc_id
    * still recoverable) — the JSON twin of TokenTable's congruence-injected
    * violations.
    */
  def jsonLines(tokKeyed: DataFrame): DataFrame =
    tokKeyed.select(
      when(col("key") % 113 === 0,
        concat(lit("{\"doc_id\":\""), col("doc_id"), lit("\",\"tokens\":[")))
        .otherwise(to_json(struct(
          col("doc_id"), col("tokens"), col("n_tok"), col("source"))))
        .as("value"))

  /** Materialize the JSON corpus for an sf dir once; returns its path. */
  def materializedJson(spark: SparkSession, sfDir: String): String = {
    val dir = Fs.cacheDir(sfDir, "json")
    Fs.materialize(spark, dir) {
      jsonLines(TokenTable.fromLineitemKeyed(TokenTable.lineitem(spark, sfDir)))
        .repartition(16)
        .write.mode("overwrite").text(dir)
    }
  }
}
