package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.rules._

/** The validation engine core.
  *
  * Design (SURVEY.md §3.1 "Spark equivalent"): one declarative job —
  *
  * {{{
  * scan(tokens) → single codegen pass evaluating ALL row rules and the
  *                small-dimension referential rules (NOT IN predicates)
  *              → explode(concat(when(...))) violation rows
  *   ∪ sort-merge left_anti join (referential rules, dimension > 10,000)
  *   ∪ two-phase hash aggregate (uniqueness rules)
  * → dedup/count aggregate → per-source summaries
  * }}}
  *
  * The reference's 4-service HTTP chain (mapper → marshal → blaze → termite,
  * /root/reference/docker-compose.yml:3-105) collapses into Catalyst
  * expression evaluation. Every row rule is evaluated in ONE scan (no
  * per-rule passes): at 100 TB the scan dominates, so rule count must not
  * multiply I/O.
  */
object Validator {

  /** Above this many gated rules, the single-projection hits expression is
    * chunk-staged. Unchunked, whole-stage codegen inlines ALL rule code into
    * one method (variable-mode codegen cannot split) — twice, since
    * InferFiltersFromGenerate re-inlines the hits expression into a
    * scan-side Filter. Measured on 3-part routed rules (not-null, length,
    * range, each gated by cluster) with the rule matrix's partial aggregate
    * fused into the stage: 9 KB of bytecode at 12 rules, 34 KB at 48, and
    * past Janino's 64 KB limit at 96. The chunked form only pays off once it
    * leaves whole-stage codegen ([[GatedRuleChunks]]), which takes ≥ 33
    * chunk columns: 32 is the largest rule count kept as one projection.
    */
  private val GatedRuleChunkThreshold = 32

  /** >= spark.sql.codegen.maxFields (100): a staged projection this wide is
    * EXCLUDED from whole-stage codegen (an array<struct<rule_id, detail,
    * severity>> chunk column counts 3 nested fields, so ≥ 33 chunks already
    * suffice), so it compiles as a row-based UnsafeProjection — which CAN
    * split generated code into JIT-sized methods (measured: 730 bytes at
    * 48 to 1200 rules). Row-based expression codegen, not interpretation:
    * the cost vs WSCG is the row-materialization boundary, not a 24×
    * interpreter drop.
    */
  private val GatedRuleChunks = 101

  /** The shared row-rule pass: every row rule, each with an optional extra
    * gate (a rule-set membership predicate under routing), in ONE scan —
    * rule-set count must not multiply I/O, the Spark analogue of the
    * reference dispatching 827 per-code profiles without re-reading pages
    * (maps/validation_mapping.json:4-833).
    * Output: (doc_id, rule_id, detail, severity, source).
    */
  private def rowPass(
      df: DataFrame, rules: Seq[(CompiledRowRule, Option[Column])]): DataFrame = {
    // The hits array is a CONCAT of per-rule conditional sub-arrays (empty
    // when the rule passes), not `array(when…)` + a higher-order `filter`:
    // every HigherOrderFunction is CodegenFallback, and ONE such expression
    // in the projection bars the whole stage from whole-stage codegen — at
    // 827-profile dispatch cardinality that means evaluating hundreds of
    // interpreted CaseWhen branches per row. Concat/CaseWhen/CreateArray
    // all codegen, so the full multi-rule-set pass stays one compiled loop
    // (asserted by WideRoutingSpec at 400 rule sets / 1200 gated rules).
    val hitType = "struct<rule_id:string,detail:string,severity:string>"
    val noHit = array().cast(s"array<$hitType>")
    def hitsOf(rs: Seq[(CompiledRowRule, Option[Column])]): Column =
      concat(rs.map { case (r, gate) =>
        val violated = gate.map(_ && r.violated).getOrElse(r.violated)
        when(violated, array(struct(
          lit(r.id).as("rule_id"),
          r.detail.as("detail"),
          lit(r.severity).as("severity"))))
          .otherwise(noHit)
      }: _*)

    // NOTE: no `where(size(hits) > 0)` — explode already drops empty
    // arrays, and an explicit filter gets pushed below the source
    // projection by PushDownPredicates, re-inlining the hits expression
    // into a Filter and evaluating it twice per row (observed 24×
    // slowdown at sf0.1 in the interpreted-HOF era; still 2× wasted today).
    val withHits =
      // empty rule list: concat() of zero typed arrays resolves as STRING
      // and breaks the explode — emit the typed empty array explicitly
      if (rules.isEmpty)
        df.select(col("doc_id"), col("source"), noHit.as("hits"))
      else if (rules.size <= GatedRuleChunkThreshold)
        df.select(col("doc_id"), col("source"), hitsOf(rules).as("hits"))
      else {
        // chunk-stage: ≥101 chunk columns push the projection out of WSCG
        // (splittable row-based codegen — Janino-safe at any rule count);
        // the re-concat references each chunk TWICE (when/otherwise, same
        // value) so CollapseProject cannot re-inline the non-cheap aliases
        // back into one giant single-method projection.
        val chunkSize = (rules.size + GatedRuleChunks - 1) / GatedRuleChunks
        val chunks = rules.grouped(chunkSize).toSeq
        val staged = df.select(
          col("doc_id") +: col("source") +:
            chunks.zipWithIndex.map { case (c, i) => hitsOf(c).as(s"_h$i") }: _*)
        // The hits alias is made non-pushable (TextOps.nonPushableArray):
        // otherwise the explode's inferred `size(hits) > 0` would carry the
        // ENTIRE rule array into a scan-stage Filter — un-splittable in
        // whole-stage codegen, and the very 64 KB overflow the chunking
        // exists to prevent. (The slice(…,1,size) form double-references
        // each chunk so CollapseProject keeps the stage.)
        staged.select(col("doc_id"), col("source"),
          graft.operators.TextOps.nonPushableArray(
            concat(chunks.indices.map(i =>
              slice(col(s"_h$i"), lit(1), size(col(s"_h$i")))): _*),
            hitType).as("hits"))
      }
    withHits
      .select(col("doc_id"), explode(col("hits")).as("v"), col("source"))
      .select(col("doc_id"), col("v.rule_id").as("rule_id"),
        col("v.detail").as("detail"), col("v.severity").as("severity"),
        col("source"))
  }

  /** Values a dimension may hold and still compile to a `NOT IN`
    * predicate in the shared row pass; a larger one compiles to a
    * sort-merge anti-join ([[violations]]). Collecting up to this many
    * values costs what a broadcast build would collect anyway.
    *
    * Why a predicate and not a join: an anti-join cannot prune anything
    * (dynamic partition pruning does not apply to anti-joins), while the
    * static predicate prunes PARTITIONS when the checked column is the
    * partition key and pushes to row-group stats otherwise. Measured at
    * 38.4M rows / 8 threads: 0.12 s vs 3.1 s for the anti-join, whose cost
    * was flat from 2 to 8 threads (it reads everything).
    */
  private val SmallDimMaxValues = 10000

  /** The dimension's non-null value list when it is small enough to
    * compile into a static predicate; None → anti-join territory. Null dim
    * entries are dropped: a NULL in the isin literal list makes `!isin`
    * NULL for every non-member (silently disarming the rule), while a null
    * dim entry can never whitelist anything under the anti-join semantics
    * the predicate replaces.
    */
  private def smallDimValues(dim: DataFrame): Option[Seq[Any]] = {
    val dimCol = dim.columns.head
    val values = dim.select(dimCol).limit(SmallDimMaxValues + 1)
      .collect().map(_.get(0)).filter(_ != null)
    if (values.length <= SmallDimMaxValues) Some(values.toSeq) else None
  }

  /** Referential violations of the rows `df` against a LARGE dimension
    * (its first column): the rows whose key the dimension lacks, a NULL key
    * included. The anti-join shuffles BOTH sides on the key: a sort-merge
    * (or shuffled-hash under AQE) join, never a broadcast — the `merge`
    * hint pins that, so a misestimated dimension size can't flip the plan
    * into collecting a TB-scale table to the driver and shipping it to
    * every executor. AQE skew-join splitting handles hot FK values.
    */
  private def antiJoinViolations(
      df: DataFrame, rule: ReferentialRule, dim: DataFrame): DataFrame =
    df.join(dim.hint("merge"), df(rule.column) === dim(dim.columns.head),
        "left_anti")
      .select(col("doc_id"), lit(rule.id).as("rule_id"),
        RuleCompiler.membershipDetail(rule).as("detail"),
        lit(rule.severity).as("severity"), col("source"))

  /** Uniqueness violations: two-phase hash aggregate on the key.
    *
    * Scale note: partial aggregation (map-side combine) collapses duplicate
    * keys before the exchange, so even a heavily duplicated key ships at most
    * one partial row per map task. AQE (enabled in [[graft.Sessions]])
    * re-splits any residual skewed reduce partition. One violation row per
    * duplicated key (not per duplicate row), matching the reference's
    * dedup-before-ship shape (IssueSet.py:9-26).
    *
    * Physical shape: `min(source)` (string buffer) forces SortAggregate
    * rather than HashAggregate. Measured (9.6M rows, 8 cores; BASELINE.md
    * component scaling profile): 2.2s, vs 5.4s for the hash-agg-count +
    * broadcast-rejoin alternative — the rejoin loses because duplicate
    * sets are NOT small under skew (collapsed keys), which is exactly when
    * uniqueness matters.
    */
  def uniqueViolations(df: DataFrame, rule: UniqueRule): DataFrame =
    uniqueViolationsPer(df, rule, Nil)

  /** [[uniqueViolations]] with extra grouping keys that partition the
    * frame into independent slices (the routed compiler passes the rule-set
    * name): a key duplicated across two slices is not a violation of
    * either. The slice keys never reach the rendered doc_id or detail.
    */
  private def uniqueViolationsPer(
      df: DataFrame, rule: UniqueRule, sliceKeys: Seq[Column]): DataFrame =
    // the internal alias keeps the aggregate distinct from a grouping
    // column when `source` is itself part of a composite key
    df.groupBy(sliceKeys ++ rule.keyColumns.map(col): _*)
      .agg(count(lit(1)).as("cnt"), min(col("source")).as("_src"))
      .where(col("cnt") > 1)
      .select(uniqueKeyRendered(rule).as("doc_id"),
        lit(rule.id).as("rule_id"),
        concat(lit(s"${uniqueKeyLabel(rule)} occurs "),
          col("cnt").cast("string"), lit(" times")).as("detail"),
        lit(rule.severity).as("severity"), col("_src").as("source"))

  /** Composite keys render `|`-joined into the violation's doc_id slot
    * (single-column keys keep the exact cast-to-string form, including
    * NULL → NULL); the detail labels the full key tuple.
    */
  private[graft] def uniqueKeyRendered(rule: UniqueRule): Column =
    if (rule.moreColumns.isEmpty) col(rule.column).cast("string")
    else concat_ws("|", rule.keyColumns.map(c => col(c).cast("string")): _*)

  private[graft] def uniqueKeyLabel(rule: UniqueRule): String =
    if (rule.moreColumns.isEmpty) rule.column
    else rule.keyColumns.mkString("(", ",", ")")

  /** Full pass of ONE rule set → detailed violations
    * (doc_id, rule_id, detail, severity, source): the one-set routing
    * (no routed family), so it compiles to at most one row pass plus one
    * aggregate per unique rule and one anti-join per large-dimension
    * referential rule.
    */
  def violations(
      df: DataFrame, ruleSet: RuleSet,
      dims: Map[String, DataFrame]): DataFrame =
    violations(df, RuleSetLoader.Routing(
      Map(ruleSet.name -> ruleSet), Map.empty, ruleSet.name), dims)

  /** The rule compiler: a full pass under per-source rule-set ROUTING
    * (SURVEY.md §2 rows 8/15; the reference's validation_mapping.json
    * dispatch) → detailed violations (doc_id, rule_id, detail, severity,
    * source). Semantics: a source routed to rule set S is validated by S's
    * rules only; every other source — a NULL source included — gets
    * `routing.defaultRuleSet`. Uniqueness is per set by definition: a
    * duplicate across differently-routed sources violates neither set.
    *
    * The routed family (every set some source is routed to, bar the
    * default) is CLUSTERED by rule-set signature — the reference's 827
    * per-LOINC profiles share one structure and differ only in parameters
    * (maps/validation_mapping.json:4-833) — and each cluster compiles to
    * one template instantiation:
    *
    *  - rules IDENTICAL across a cluster's sets → evaluated once, gated by
    *    cluster membership (`_grp` from the broadcast parameter dimension);
    *  - [[graft.rules.RangeRule]]s that differ only in bounds → ONE
    *    [[graft.rules.ColumnBoundsRule]] template per cluster whose bounds
    *    are joined from the same dimension (NULL bounds self-gate, so other
    *    clusters' rows never fire the template);
    *  - the default rule set's rules → gated by NOT-routed (null-safe).
    *
    * One scan + one broadcast hash join for ALL row rules; per-row cost
    * O(#signature-clusters × #template-rules), independent of rule-set
    * count, and the generated code grows with the cluster count, not the
    * config (WideRoutingSpec asserts whole-stage codegen with JIT-sized
    * methods at 400 sets). A fully heterogeneous config degenerates to one
    * gated template per set; past [[GatedRuleChunkThreshold]] gated rules
    * the row pass is chunk-staged. An empty family adds no join and no
    * gates: a single rule set compiles to its plain one-set plan.
    *
    * Dataset-level rules collapse per DISTINCT rule across clusters and the
    * default set. Each referenced dimension is collected once per call
    * (at most [[SmallDimMaxValues]] + 1 values). A referential rule over a
    * dimension of at most [[SmallDimMaxValues]] values compiles to a
    * membership predicate in the shared row pass
    * ([[graft.rules.RuleCompiler.compileMembership]]; fusing saves one
    * corpus scan per referential rule); over a larger one, to a
    * `merge`-hinted anti-join over its carriers' rows. A unique rule runs
    * ONE [[uniqueViolations]] aggregate over its carriers' rows with the
    * set name as an extra grouping key — one shuffle however many sets
    * carry it. Fusion interleaves referential hits with row-rule hits, so
    * the frame's row order is unspecified; every consumer aggregates or
    * sorts.
    */
  def violations(
      df: DataFrame, routing: RuleSetLoader.Routing,
      dims: Map[String, DataFrame]): DataFrame = {
    // Fail fast on dangling config: a source routed to a nonexistent rule
    // set, or a missing default, would otherwise silently skip validation
    // for that slice.
    val dangling = routing.routing.collect {
      case (src, set) if !routing.ruleSets.contains(set) => s"$src -> $set"
    }
    require(dangling.isEmpty,
      s"routing targets missing from ruleSets: ${dangling.mkString(", ")}")
    require(routing.ruleSets.contains(routing.defaultRuleSet),
      s"defaultRuleSet '${routing.defaultRuleSet}' missing from ruleSets")
    val defaultSet = routing.ruleSets(routing.defaultRuleSet)
    val routedSets = routing.routing.values.toSet
    val family = routing.ruleSets.view
      .filterKeys(n => routedSets.contains(n) && n != routing.defaultRuleSet)
      .toMap

    // Signature: the rule list with RangeRule bounds erased (id/column/
    // severity/appliesTo kept — a per-set appliesTo restriction is part of
    // the template, never silently dropped). Two sets cluster together iff
    // they instantiate the same template.
    def signature(rs: RuleSet): Seq[Any] = rs.rules.map {
      case r: RangeRule => ("range", r.id, r.column, r.severity, r.appliesTo)
      case other => other
    }
    // deterministic cluster order: by lexicographically-first member name
    val clusters: Seq[Seq[(String, RuleSet)]] =
      family.toSeq.sortBy(_._1)
        .groupBy { case (_, rs) => signature(rs) }
        .values.toSeq.sortBy(_.head._1)
    val setToGrp: Map[String, Int] = clusters.zipWithIndex.flatMap {
      case (members, gi) => members.map { case (name, _) => name -> gi }
    }.toMap

    // Per cluster: which of its template's RangeRules actually VARY in
    // bounds across the cluster (constant ranges stay literal rules —
    // smaller generated code, pushable predicates), and the rest.
    final case class Cluster(gi: Int, paramTpl: Seq[RangeRule], shared: RuleSet)
    val compiled = clusters.zipWithIndex.map { case (members, gi) =>
      val template = members.head._2.rules
      val paramTpl = template.collect {
        case r: RangeRule if members.exists(_._2.rules.exists {
          case o: RangeRule => o.id == r.id && (o.lo != r.lo || o.hi != r.hi)
          case _ => false
        }) => r
      }
      val paramIds = paramTpl.map(_.id).toSet
      Cluster(gi, paramTpl,
        RuleSet(s"_tpl$gi", template.filterNot(r => paramIds.contains(r.id))))
    }

    // parameter dimension: one row per ROUTED source carrying its set name
    // (the uniqueness slice key), its cluster id, and that source's bounds
    // for every parameterized rule of ITS cluster (null elsewhere) —
    // config-sized (the analogue of validation_mapping.json itself),
    // broadcast to the scan
    val paramCols: Seq[(Int, RangeRule)] =
      compiled.flatMap(c => c.paramTpl.map(t => (c.gi, t)))
    def loCol(gi: Int, id: String) = s"_lo_g${gi}_$id"
    def hiCol(gi: Int, id: String) = s"_hi_g${gi}_$id"
    val src =
      if (family.isEmpty) df
      else {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
        val paramRows: Seq[Row] =
          // a source explicitly routed to the DEFAULT set is not in the
          // family: it gets no dimension row, joins null, and lands in the
          // default gate below
          routing.routing.toSeq.filter(e => family.contains(e._2))
            .sortBy(_._1).map { case (source, setName) =>
            val rs = routing.ruleSets(setName)
            val gi = setToGrp(setName)
            val bounds = paramCols.flatMap { case (g, t) =>
              if (g != gi) Seq(null, null)
              else {
                val r = rs.rules.collectFirst {
                  case o: RangeRule if o.id == t.id => o
                }.get
                Seq(java.lang.Long.valueOf(r.lo), java.lang.Long.valueOf(r.hi))
              }
            }
            Row.fromSeq(source +: setName +: gi +: bounds)
          }
        val paramSchema = StructType(
          StructField("source", StringType) ::
          StructField("_set", StringType) ::
          StructField("_grp", IntegerType) ::
          paramCols.flatMap { case (g, t) => Seq(
            StructField(loCol(g, t.id), LongType),
            StructField(hiCol(g, t.id), LongType))
          }.toList)
        val paramDim = df.sparkSession.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(paramRows).asJava,
          paramSchema)
        df.join(broadcast(paramDim), Seq("source"), "left")
      }

    // The gate of a rule carried by clusters `gis` and, when `inDefault`,
    // by the default set. Null-safe by construction: a NULL source joins
    // nothing → `_set` null → the row lands in the default set, whose
    // notNull rules should see it. None = every row.
    val routed = col("_set").isNotNull
    def gate(gis: Seq[Int], inDefault: Boolean): Option[Column] =
      if (gis.size == clusters.size && inDefault) None
      else if (gis.isEmpty) Some(!routed)
      else {
        val g = if (gis.size == clusters.size) routed else col("_grp").isin(gis: _*)
        Some(if (inDefault) g || !routed else g)
      }

    // dataset rules pool per DISTINCT rule over every carrier (cluster
    // templates, then the default set) — first-appearance order; each with
    // the clusters that carry it and whether the default set does
    val carriers: Seq[(Option[Int], RuleSet)] =
      compiled.map(c => (Some(c.gi), c.shared)) :+ (None -> defaultSet)
    def pooled[R <: Rule](rulesOf: RuleSet => Seq[R]): Seq[(R, Seq[Int], Boolean)] = {
      val carried = carriers.flatMap { case (gi, rs) => rulesOf(rs).map(_ -> gi) }
      carried.map(_._1).distinct.map { r =>
        val by = carried.collect { case (`r`, gi) => gi }
        (r, by.flatten, by.contains(None))
      }
    }
    val refs = pooled(_.referentialRules)
    // one collect per referenced dimension, however many rules name it
    val dimValues: Map[String, Option[Seq[Any]]] =
      refs.map(_._1.dimension).distinct
        .map(d => d -> smallDimValues(dims(d))).toMap

    val rowRules: Seq[(CompiledRowRule, Option[Column])] =
      (compiled.flatMap(c => c.shared.rowRules.map(_ -> gate(Seq(c.gi), false))) ++
        paramCols.map { case (g, t) =>
          // null bounds self-gate
          (ColumnBoundsRule(t.id, t.column, loCol(g, t.id), hiCol(g, t.id),
            t.severity, t.appliesTo): Rule) -> None
        } ++
        defaultSet.rowRules.map(_ -> gate(Nil, true)))
        .map { case (r, g) => RuleCompiler.compileRow(r) -> g } ++
        refs.flatMap { case (r, gis, inDefault) =>
          dimValues(r.dimension).map(values =>
            RuleCompiler.compileMembership(r, values) -> gate(gis, inDefault))
        }
    // the rows a dataset rule sees: its carriers' gate, then its own
    // source restriction (the row rules' RuleCompiler gate)
    def rowsOf(r: Rule, g: Option[Column]): DataFrame =
      (g ++ r.appliesTo.map(col("source") === _)).foldLeft(src)(_ where _)
    val bigRefs = refs.collect {
      case (r, gis, inDefault) if dimValues(r.dimension).isEmpty =>
        antiJoinViolations(rowsOf(r, gate(gis, inDefault)), r, dims(r.dimension))
    }
    // the set name keys the aggregate only where routed sets carry the
    // rule (the default slice alone is one set)
    val uniq = pooled(_.uniqueRules).map { case (u, gis, inDefault) =>
      uniqueViolationsPer(rowsOf(u, gate(gis, inDefault)), u,
        if (gis.isEmpty) Nil else Seq(col("_set")))
    }
    // a row pass with no rules would scan the corpus to emit nothing
    val datasetPasses = bigRefs ++ uniq
    (if (rowRules.isEmpty && datasetPasses.nonEmpty) datasetPasses
     else rowPass(src, rowRules) +: datasetPasses).reduce(_ unionByName _)
  }

  /** Ranked duplicate rows via a window function — the alternative
    * uniqueness formulation (SURVEY.md §2.6: `row_number().over(partitionBy
    * doc_id)`). Emits (doc_id, rn) for every row beyond the first per key.
    *
    * Scale trade-off vs [[uniqueViolations]]: the window shuffles EVERY row
    * by doc_id with no map-side combine (WindowExec needs all rows of a key
    * co-located), while the aggregate ships one partial row per key per map
    * task. At 10^12 rows the aggregate is the production path; the window
    * variant exists because it preserves the duplicate ROWS (not just
    * counts), which the report side sometimes wants.
    */
  def duplicatesRanked(df: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(col(keyCol), row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("n_tok"), col("source")))
        .as("rn"))
      .where(col("rn") > 1)
  }

  /** Top-k most-duplicated keys: hash aggregate then `TakeOrderedAndProject`
    * (orderBy + limit fuse into a per-partition top-k + driver merge — no
    * global sort, no full shuffle; SURVEY.md §2 row 4's `limit` combined
    * with row 31's sort).
    */
  def topDuplicatedKeys(df: DataFrame, keyCol: String, k: Int): DataFrame =
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .orderBy(col("cnt").desc, col(keyCol))
      .limit(k)

  /** Functional-dependency consistency (dataset-level): every occurrence of
    * a key must carry the SAME dependent value — the cross-row
    * generalization of the row-local fixed-value check (the reference's
    * per-instance profile validation cannot express this; it falls out of
    * the engine's aggregate form for free). One violation row per key whose
    * dependents disagree, with the distinct-value count in the detail.
    *
    * Plan: single hash aggregate keyed by `keyCol` (count_distinct partial
    * map-side like any aggregate) — same one-shuffle shape and skew
    * characteristics as [[uniqueViolations]], salting applies identically.
    */
  def fdViolations(df: DataFrame, ruleId: String,
      keyCol: String, dependentCol: String,
      severity: String = "error"): DataFrame =
    df.groupBy(col(keyCol))
      .agg(countDistinct(col(dependentCol)).as("nvals"),
        min(col("source")).as("source"))
      .where(col("nvals") > 1)
      .select(col(keyCol).cast("string").as("doc_id"),
        lit(ruleId).as("rule_id"),
        concat(lit(s"$dependentCol has "), col("nvals").cast("string"),
          lit(s" distinct values for one $keyCol")).as("detail"),
        lit(severity).as("severity"), col("source"))

  /** Error-contained rule-set pass (SURVEY.md §2 row 40): a rule that fails
    * to compile or resolve (unknown column, missing dimension, bad config)
    * becomes an `engine_error` violation row instead of aborting the run —
    * the reference's containment policy (HTTP/validation failures append a
    * processing issue and the run continues, main.py:225-263).
    *
    * Each rule is probed alone by building its one-rule [[violations]]
    * frame (driver-side analysis; a referential probe also resolves and
    * collects its dimension), then the healthy subset runs through ONE
    * [[violations]] pass — containment costs no extra corpus passes.
    */
  def violationsContained(
      df: DataFrame, ruleSet: RuleSet,
      dims: Map[String, DataFrame]): DataFrame = {
    def errorRow(ruleId: String, e: Throwable): DataFrame =
      df.sparkSession.range(1).select(
        lit("-").as("doc_id"), lit(ruleId).as("rule_id"),
        lit(s"engine_error: ${e.getClass.getSimpleName}").as("detail"),
        lit("error").as("severity"), lit("-").as("source"))

    def probe(rule: Rule): Option[Exception] =
      try {
        violations(df, RuleSet(ruleSet.name, Seq(rule)), dims)
        None
      } catch { case e: Exception => Some(e) }
    val probed = ruleSet.rules.map(r => r -> probe(r))
    val healthy = RuleSet(ruleSet.name, probed.collect { case (r, None) => r })
    (violations(df, healthy, dims) +:
      probed.collect { case (r, Some(e)) => errorRow(r.id, e) })
      .reduce(_ unionByName _)
  }

  /** Per-source validation with adaptive fallback (SURVEY.md §2 row 39, the
    * reference's `run_total_tests`, main.py:183-214): validate the slice for
    * `source`; if the filtered scan is EMPTY, record a warning and rerun
    * over the unfiltered table — the analogue of retrying a profile-filtered
    * search without `_profile` (main.py:191-206).
    *
    * Output: the per-source summary plus `fallback` and `note` columns. The
    * driver-side `isEmpty` branch is deliberate explicit control flow, not a
    * Catalyst concern (SURVEY.md §4).
    */
  def summaryWithFallback(
      df: DataFrame, source: String, ruleSet: RuleSet,
      dims: Map[String, DataFrame]): DataFrame = {
    val filtered = df.where(col("source") === lit(source))
    if (filtered.isEmpty) {
      summary(df, violations(df, ruleSet, dims))
        .withColumn("fallback", lit(true))
        .withColumn("note",
          lit(s"no rows for source '$source'; validated without filter"))
    } else {
      summary(filtered, violations(filtered, ruleSet, dims))
        .withColumn("fallback", lit(false))
        .withColumn("note", lit(""))
    }
  }

  /** Canonical 3-column violation projection. */
  def canonical(detailed: DataFrame): DataFrame =
    detailed.select("doc_id", "rule_id", "detail")

  /** Detail-string generalization before dedup: indices `[k]` → `[*]` and
    * quoted values `'v'` → `'?'`, the engine analogue of the reference's
    * location generalization (IssueSet.py:39-40) so per-row specifics don't
    * split dedup groups.
    */
  def generalize(detail: Column): Column =
    regexp_replace(
      regexp_replace(detail, "\\[[0-9]+\\]", "[*]"),
      "'[^']*'", "'?'")

  /** The reference's signature aggregate (IssueSet.py:9-26): dedup + count by
    * (severity, rule_id, generalized detail). Partial+final hash aggregate;
    * map-side combine compresses before the exchange exactly like the
    * reference dedups client-side before shipping the report.
    */
  def dedupIssues(detailed: DataFrame): DataFrame =
    detailed
      .select(col("severity"), col("rule_id"),
        generalize(col("detail")).as("detail_generic"))
      .groupBy("severity", "rule_id", "detail_generic")
      .agg(count(lit(1)).as("cnt"))

  /** Per-source rule matrix: violation count per (source, rule_id) — the
    * pass/fail matrix the driver compares (BASELINE.json metric).
    */
  def ruleMatrix(detailed: DataFrame): DataFrame =
    detailed.groupBy("source", "rule_id").agg(count(lit(1)).as("violations"))

  /** Per-source pass/fail summary (SURVEY.md §1.3 "report dict"). */
  def summary(df: DataFrame, detailed: DataFrame): DataFrame =
    summaryFromCounts(
      df.groupBy("source").agg(count(lit(1)).as("n_rows")), detailed)

  /** Summary from PRE-COMPUTED per-source row counts — when the pipeline
    * already aggregated the table (column stats, a metrics table, Iceberg
    * manifest counts), re-scanning 100 TB just to count rows again is a
    * wasted full pass; feed those counts here instead. `rowCounts`:
    * (source, n_rows).
    */
  def summaryFromCounts(rowCounts: DataFrame, detailed: DataFrame): DataFrame = {
    val viol = detailed.groupBy("source").agg(count(lit(1)).as("nv"))
    // null-safe join key: NULL source is a real slice (the default-routed
    // one) — a plain equi-join drops its violation count on the floor and
    // reports the slice as passing (the summary-side face of the
    // null-source escape hole ADVICE r5 flagged in SnapshotDiff)
    rowCounts.select(col("source"), col("n_rows"))
      .join(viol.select(col("source").as("_vsrc"), col("nv")),
        col("source") <=> col("_vsrc"), "left")
      .select(col("source"), col("n_rows"),
        coalesce(col("nv"), lit(0L)).as("n_violations"),
        (coalesce(col("nv"), lit(0L)) === 0).as("pass"))
  }
}
