package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Validator
import graft.rules.RuleSetLoader

/** The definition of rule-set routing, kept as an independent reference for
  * the signature-cluster compiler: each rule set runs on its own source
  * slice through the one-set form of [[Validator.violations]], and the
  * results are unioned. A source routed to set S belongs to S's slice;
  * every other source — a NULL source included — to the default set's.
  * One scan and one set of aggregates per rule set: a test oracle, never a
  * production path.
  */
object RoutingReference {
  def violations(df: DataFrame, routing: RuleSetLoader.Routing,
      dims: Map[String, DataFrame]): DataFrame = {
    val routedAway = routing.routing.collect {
      case (src, set) if set != routing.defaultRuleSet => src
    }.toSeq.sorted
    val defaultSlice =
      if (routedAway.isEmpty) df
      else df.where(coalesce(!col("source").isin(routedAway: _*), lit(true)))
    val routedSlices = routing.routing.filter(_._2 != routing.defaultRuleSet)
      .groupBy(_._2).toSeq.sortBy(_._1).map { case (set, srcs) =>
        set -> df.where(col("source").isin(srcs.keys.toSeq.sorted: _*))
      }
    ((routing.defaultRuleSet -> defaultSlice) +: routedSlices)
      .map { case (set, slice) =>
        Validator.violations(slice, routing.ruleSets(set), dims)
      }
      .reduce(_ unionByName _)
  }
}
