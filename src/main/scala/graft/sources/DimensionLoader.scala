package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Value-set / code-system dimension ingestion — the engine analogue of the
  * reference loading terminology value sets from files into its termite
  * service (/root/reference/value_sets/README.md,
  * /root/reference/code_systems/README.md,
  * /root/reference/docker-compose.yml:32-46). Referential rules name a
  * dimension ([[graft.rules.ReferentialRule.dimension]]); this loader turns
  * user-supplied config into the `Map[String, DataFrame]` the engine
  * resolves those names against, replacing hardcoded dimensions end to end.
  *
  * Inline JSON (`{"valueSets": {"name": ["A","N"], ...}}`) for small
  * enumerations — each becomes a 1-column local-relation DataFrame that
  * [[graft.engine.Validator.violations]] compiles into a static predicate
  * (no scan, no shuffle). A LARGE code system is any DataFrame (a parquet
  * scan) in the same map: above 10,000 values the compiler plans a
  * sort-merge anti-join against it (a 10⁸-code system must never be
  * collected or broadcast).
  */
object DimensionLoader {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  /** Parse inline value sets: `{"valueSets": {"name": ["v1", "v2"], ...}}`.
    * Malformed bodies FAIL (same policy as
    * [[graft.rules.RuleSetLoader.parse]]): a typo'd value set must never
    * silently become an empty dimension that flags every row.
    */
  def parse(spark: SparkSession, json: String): Map[String, DataFrame] = {
    import spark.implicits._
    val root = JsonMethods.parse(json)
    (root \ "valueSets") match {
      case JObject(fields) => fields.map {
        case (name, JArray(vs)) =>
          val values = vs.map {
            case JString(s) => s
            case JInt(i)    => i.toString
            case other => throw new IllegalArgumentException(
              s"value set '$name': unsupported element $other")
          }
          name -> values.toDF(s"${name}_value")
        case (name, other) => throw new IllegalArgumentException(
          s"value set '$name' must be a JSON array, got: $other")
      }.toMap
      case JNothing => Map.empty
      case other => throw new IllegalArgumentException(
        s"valueSets must be a JSON object, got: $other")
    }
  }
}
