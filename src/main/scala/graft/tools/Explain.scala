package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Sessions
import graft.engine.Validator
import graft.rules.RuleSet
import graft.sources.TokenTable

/** Plan inspection / micro-profiling harness: times the building blocks of
  * the flagship pass separately and prints formatted plans, so shuffle or
  * codegen regressions are visible (run: `sbt "runMain graft.tools.Explain"`).
  */
object Explain {
  def timed(name: String)(f: => Long): Unit = {
    val t0 = System.nanoTime()
    val n = f
    println(f"[explain] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs rows=$n")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus, "graft-explain")
    val dims = Map("allowed_sources" -> TokenTable.allowedDim(spark))
    val ruleSet = RuleSet.default(TokenTable.Vocab)
    val rowRules = RuleSet("rows", ruleSet.rowRules)

    def tok = TokenTable.tokens(spark, sfDir)

    timed("scan+count")(tok.count())
    timed("tokens_matxn")(tok.agg(sum(size(col("tokens")))).collect()
      .head.getLong(0))
    timed("preds_only")(tok.where(size(col("tokens")) =!= col("n_tok") ||
      !forall(col("tokens"), t => t >= 0 && t < 50000)).count())
    timed("row_rules")(Validator.violations(tok, rowRules, dims).count())
    timed("referential")(Validator.referentialViolations(
      tok, ruleSet.referentialRules.head, dims("allowed_sources")).count())
    timed("unique")(Validator.uniqueViolations(tok, ruleSet.uniqueRules.head).count())
    timed("full_detailed")(Validator.violations(tok, ruleSet, dims).count())
    timed("dedup")(Validator.dedupIssues(
      Validator.violations(tok, ruleSet, dims)).count())
    timed("summary")(Validator.summary(tok,
      Validator.violations(tok, ruleSet, dims)).count())

    if (args.contains("--scaled")) {
      val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "16").toInt
      val stok = TokenTable.tokensScaled(spark, sfDir, scale)
      val sbase = TokenTable.tokensBaseline(spark, sfDir)
      println(s"[explain] scan splits: ${stok.rdd.getNumPartitions}")
      timed("x_scan")(stok.count())
      timed("x_rowrules")(Validator.violations(stok, rowRules, dims).count())
      timed("x_rowrules2")(Validator.violations(stok, rowRules, dims).count())
      timed("x_rowrules3")(Validator.violations(stok, rowRules, dims).count())
      timed("x_unique")(Validator.uniqueViolations(stok, ruleSet.uniqueRules.head).count())
      timed("x_referential")(Validator.referentialViolations(
        stok, ruleSet.referentialRules.head, dims("allowed_sources")).count())
      timed("x_dedup")({
        Validator.dedupIssues(Validator.violations(stok, ruleSet, dims)).collect(); 1L })
      timed("x_stats")({ graft.engine.StatsOps.columnStats(stok).collect(); 1L })
      timed("x_stats2")({ graft.engine.StatsOps.columnStats(stok).collect(); 1L })
      timed("x_stats3")({ graft.engine.StatsOps.columnStats(stok).collect(); 1L })
      timed("x_drift")({ graft.engine.Drift.sketchQuantileDrift(
        stok, sbase, "n_tok", 200, Seq(0.5, 0.95), 2.0).collect(); 1L })
      // routed/wide dispatch at reference cardinality (400 sets): the
      // heaviest dispatch paths get their own 2c→8c component profile so a
      // routing-driven scaling regression is visible on its own row, not
      // only in the aggregate (x2 rows = JIT-warm repeats)
      val wideN = 400
      val wideRouting = graft.rules.RuleSetLoader.parse(
        graft.Queries.wideRoutingJson(wideN))
      val wtok = stok.withColumn("source",
        concat(col("source"), lit("_"), (col("okey") % wideN).cast("string")))
      timed("x_routed_wide")(Validator.violations(
        wtok, wideRouting, dims).count())
      timed("x_routed_wide2")(Validator.violations(
        wtok, wideRouting, dims).count())
    }
    if (args.contains("--fullpass")) {
      // interleaved A/B of the fused-sketch full pass vs the separate-scan
      // form at the scaling-representative size — both in ONE JVM so
      // box-state drift between runs can't masquerade as a code effect
      val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "64").toInt
      val stok = TokenTable.tokensScaled(spark, sfDir, scale)
      val sbase = TokenTable.tokensBaseline(spark, sfDir)
      graft.Bench.fullPassOn(spark, stok, sbase, fuseDriftSketch = true)
      graft.Bench.fullPassOn(spark, stok, sbase, fuseDriftSketch = false)
      (1 to 2).foreach { r =>
        timed(s"fp_fused_$r")(
          graft.Bench.fullPassOn(spark, stok, sbase, fuseDriftSketch = true))
        timed(s"fp_unfused_$r")(
          graft.Bench.fullPassOn(spark, stok, sbase, fuseDriftSketch = false))
      }
    }
    if (args.contains("--minhash")) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      timed("mh_bands")(graft.operators.DedupOps
        .minHashBands(docs, 3, 4, 4).count())
      timed("mh_candidates")(graft.operators.DedupOps
        .minHashCandidates(docs).count())
      timed("mh_full")(graft.operators.DedupOps
        .minHashDuplicates(docs, threshold = 0.5).count())
      graft.operators.DedupOps.minHashBands(docs, 3, 4, 4)
        .groupBy("band_id", "band_key").count()
        .orderBy(org.apache.spark.sql.functions.desc("count"))
        .show(10)
    }
    if (args.contains("--exp")) {
      val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "16").toInt
      val stok = TokenTable.tokensScaled(spark, sfDir, scale)
      // warm-up
      Validator.violations(stok, rowRules, dims).count()
      timed("rr_inferred_filter")(
        Validator.violations(stok, rowRules, dims).count())
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      Validator.violations(stok, rowRules, dims).count()
      timed("rr_no_infer")(
        Validator.violations(stok, rowRules, dims).count())
      spark.conf.unset("spark.sql.optimizer.excludedRules")

      Validator.uniqueViolations(stok, ruleSet.uniqueRules.head).count()
      timed("uniq_sortagg")(
        Validator.uniqueViolations(stok, ruleSet.uniqueRules.head).count())
      // variant: hash-agg count only, then re-join tiny dup set for source
      def uniqTwoScan(): Long = {
        val dups = stok.groupBy("doc_id")
          .agg(count(lit(1)).as("cnt")).where(col("cnt") > 1)
        stok.join(broadcast(dups), Seq("doc_id"))
          .groupBy("doc_id")
          .agg(max(col("cnt")).as("cnt"), min(col("source")).as("source"))
          .count()
      }
      uniqTwoScan()
      timed("uniq_twoscan")(uniqTwoScan())
    }
    if (args.contains("--plans")) {
      Validator.violations(tok, ruleSet, dims).explain("formatted")
    }
    if (args.contains("--ann")) {
      import graft.operators.{SimilarityOps, VectorIndex}
      val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val qv = embs.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .first().getSeq[Double](0).toSeq
      val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_") + "_explain"
      val (idx, cent) = VectorIndex.ivf(spark, embs, tag, 8)
      // the probed-partition scan: PartitionFilters must carry centroid_id
      val probe = VectorIndex.ivfTopK(spark, idx, cent, qv, 10, nProbe = 2)
      probe.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("PartitionFilters")).foreach { l =>
          val i = l.indexOf("PartitionFilters")
          println("[explain][ann] " + l.substring(i).take(200))
        }
      timed("ann_ivf_indexed")(probe.count())
      timed("ann_ivf_unindexed")(
        SimilarityOps.ivfTopK(embs, qv, 10, 8, 2).count())
      timed("ann_brute")(SimilarityOps.bruteForceTopK(embs, qv, 10).count())
      // native vs interpreted dot product over all pairs of a 500-vec slice
      val slice = embs.where(col("vec_id") < 500)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val l = slice.select(col("vec_id").as("va"), col("e").as("ea"))
      val r = slice.select(col("vec_id").as("vb"), col("e").as("eb"))
      val pairs = l.join(r, col("va") < col("vb"))
      pairs.select(SimilarityOps.dot(col("ea"), col("eb")).as("d"))
        .agg(sum("d")).collect() // warm
      timed("dot_native_125k")(
        { pairs.select(SimilarityOps.dot(col("ea"), col("eb")).as("d"))
          .agg(sum("d")).collect(); 124750L })
      timed("dot_hof_125k")(
        { pairs.select(SimilarityOps.dotHof(col("ea"), col("eb")).as("d"))
          .agg(sum("d")).collect(); 124750L })
    }
    if (args.contains("--bucketed")) {
      // VERDICT r4 #7: the 38M-row exchange feeding the uniqueness
      // SortAggregate is the full pass's dominant non-scaling component.
      // Variant: store the token cache bucketBy(doc_id) (+ sortBy) so the
      // aggregate's required distribution is satisfied AT THE SCAN — no
      // exchange, and with sorted buckets no sort either. Measured at ×64
      // on 2c and 8c; the one-time layout write is timed separately (it
      // pays the same shuffle once, amortized over every later pass).
      val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "64").toInt
      val stok = TokenTable.tokensScaled(spark, sfDir, scale)
      val tbl = s"graft_tok_bucketed_x${scale}_c$cpus"
      val path = s"/tmp/graft_tok_bucketed/x${scale}_c$cpus"
      graft.sources.Fs.delete(spark, path)
      timed("bk_layout_write")({
        stok.write.mode("overwrite")
          .bucketBy(32, "doc_id").sortBy("doc_id")
          .option("path", path).format("parquet").saveAsTable(tbl)
        1L
      })
      val btok = spark.table(tbl)
      val uniq = ruleSet.uniqueRules.head
      Validator.uniqueViolations(btok, uniq).count() // warm
      timed("bk_uniq_bucketed")(
        Validator.uniqueViolations(btok, uniq).count())
      timed("bk_uniq_bucketed2")(
        Validator.uniqueViolations(btok, uniq).count())
      Validator.uniqueViolations(stok, uniq).count() // warm
      timed("bk_uniq_exchange")(
        Validator.uniqueViolations(stok, uniq).count())
      timed("bk_uniq_exchange2")(
        Validator.uniqueViolations(stok, uniq).count())
      // plan proof: the bucketed aggregate must carry NO Exchange
      val plan = {
        val df = Validator.uniqueViolations(btok, uniq)
        df.collect()
        df.queryExecution.executedPlan.toString
      }
      println(s"[explain] bk_exchange_free=" +
        !plan.contains("Exchange hashpartitioning"))
    }
    if (args.contains("--pack")) {
      // skew case for packing (VERDICT r4 #5): ONE monolithic source — the
      // flat window is a single task regardless of cores; the two-level
      // form parallelizes across hash buckets. 2c→8c rows at ×SCALE.
      val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "16").toInt
      val mono = TokenTable.tokensScaled(spark, sfDir, scale)
        .withColumn("source", lit("S"))
      def flat(): Long = graft.operators.PackOps
        .packSummary(mono, budget = 4096).count()
      def bucketed(): Long = graft.operators.PackOps
        .packSummaryBucketed(mono, budget = 4096, nBuckets = 32).count()
      bucketed(); flat() // warm
      timed("pack_flat_mono")(flat())
      timed("pack_flat_mono2")(flat())
      timed("pack_bucketed_mono")(bucketed())
      timed("pack_bucketed_mono2")(bucketed())
    }
    if (args.contains("--diff")) {
      // 2c→8c profile of the snapshot diff (incremental-validation
      // planning): EXCEPT ALL = one hash aggregate per side keyed by the
      // full row — must scale like the rule pass, no flat component
      val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "16").toInt
      val stok = TokenTable.tokensScaled(spark, sfDir, scale)
      val prev = stok.where(col("okey") % 2 === 0)
      import graft.engine.SnapshotDiff
      SnapshotDiff.diffBySource(stok, prev).count() // warm
      timed("diff_by_source")(SnapshotDiff.diffBySource(stok, prev).count())
      timed("diff_by_source2")(SnapshotDiff.diffBySource(stok, prev).count())
      timed("diff_changed")(SnapshotDiff.changedSources(stok, prev).count())
    }
    if (args.contains("--vocab")) {
      // 2c→8c profile of the vocabulary/LM operator family at ×SCALE:
      // bigram + PMI over the scaled token table, unigram-LM scoring and
      // Zipf slope over a replicated documents table. All four must scale
      // like the rule pass (hash aggregates + broadcast joins — no flat
      // component); the plan proof pins the PMI/LM joins as broadcasts
      // (a vocabulary join falling to a sort-merge would shuffle the
      // exploded corpus — the 100 TB failure mode).
      import graft.operators.{TextOps, VocabOps}
      val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "16").toInt
      val stok = TokenTable.tokensScaled(spark, sfDir, scale)
      VocabOps.bigramCounts(stok).count() // warm
      timed("vb_bigrams")(VocabOps.bigramCounts(stok).count())
      timed("vb_bigrams2")(VocabOps.bigramCounts(stok).count())
      timed("vb_pmi")(VocabOps.pmiTopK(stok, 20, 5).count())
      timed("vb_pmi2")(VocabOps.pmiTopK(stok, 20, 5).count())
      val sdocs = spark.read.parquet(s"$sfDir/documents.parquet")
        .crossJoin(spark.range(scale).toDF("r"))
        .withColumn("doc_id", col("doc_id") + col("r") * 10000000L)
        .drop("r")
      TextOps.unigramLogProb(sdocs).count() // warm
      timed("vb_lm_score")(TextOps.unigramLogProb(sdocs).count())
      timed("vb_lm_score2")(TextOps.unigramLogProb(sdocs).count())
      timed("vb_zipf")(TextOps.zipfSlope(sdocs).count())
      timed("vb_zipf2")(TextOps.zipfSlope(sdocs).count())
      val lmPlan = TextOps.unigramLogProb(sdocs)
        .queryExecution.executedPlan.toString
      val pmiPlan = VocabOps.pmiTopK(stok, 20, 5)
        .queryExecution.executedPlan.toString
      println("[explain] vb_lm_broadcast=" +
        lmPlan.contains("BroadcastHashJoin") +
        " vb_pmi_broadcast=" + pmiPlan.contains("BroadcastHashJoin"))
    }
    if (args.contains("--r6")) {
      // 2c→8c profile of the round-6 family at ×SCALE: context-window
      // chunking over the scaled token table (the output-exploding op —
      // per-row projection, must scale linearly with no flat component)
      // and the PII scrub over a replicated documents table (regex-bound,
      // same contract). Mixing weights / expectation suite / metrics are
      // config-cardinality aggregates — nothing to profile.
      import graft.operators.ChunkOps
      import graft.operators.TextOps
      val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "16").toInt
      val stok = TokenTable.tokensScaled(spark, sfDir, scale)
      ChunkOps.contextWindows(stok, 32, 24).count() // warm
      timed("r6_chunk")(ChunkOps.contextWindows(stok, 32, 24).count())
      timed("r6_chunk2")(ChunkOps.contextWindows(stok, 32, 24).count())
      // re-split BEFORE replicating: the tiny fixture file is ONE input
      // split and piiCounts is shuffle-free, so both the crossJoin
      // replication and the regex pass would otherwise serialize in a
      // single task at any core count (measured flat 1.76→1.45 s; with a
      // post-replication split the regex scaled but the replication
      // stayed serial: 5.63→2.52 s at ×64). A real corpus arrives in
      // thousands of splits; model that, don't measure the fixture's
      // file layout.
      val sdocs = spark.read.parquet(s"$sfDir/documents.parquet")
        .repartition(cpus * 4)
        .crossJoin(spark.range(scale).toDF("r"))
        .withColumn("doc_id", col("doc_id") + col("r") * 10000000L)
        .drop("r")
      val pii = TextOps.piiCounts(sdocs
        .withColumn("text", concat(
          col("text"), lit(" reach "), col("doc_id").cast("string"),
          lit("@mail3.com via 10.1."), pmod(col("n_chars"), lit(250))
            .cast("string"), lit(".7"))))
      pii.agg(sum("n_emails")).collect() // warm
      timed("r6_pii")(pii.agg(sum("n_emails"), sum("n_ips"))
        .collect().head.getLong(0))
      timed("r6_pii2")(pii.agg(sum("n_emails"), sum("n_ips"))
        .collect().head.getLong(0))
    }
    if (args.contains("--lshprobe")) {
      // round-7: where does the e_ann_lsh_idx probe's stable ~4.5 s go?
      // candidates: partition discovery over ~2 k (band_id, band_key)
      // leaf dirs, the 1-row signature job, the probed scan itself.
      import graft.operators.{SimilarityOps, VectorIndex}
      val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val qv = embs.where(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .first().getSeq[Double](0).toSeq
      val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_") + "_aug"
      val idx = s"${sys.env.getOrElse("GRAFT_VEC_INDEX", "/tmp/graft_vec_index")}/lsh_${tag}_b8x8/index"
      (1 to 2).foreach { r =>
        timed(s"lsh_sigjob_$r")({
          VectorIndex.lshProbeKeys(spark, qv, 8, 8); 1L })
        timed(s"lsh_listing_$r")({
          spark.read.parquet(idx).schema; 1L })
        timed(s"lsh_probe_$r")(
          VectorIndex.lshTopK(spark, idx, qv, 3, 8, 8).count())
      }
    }
    if (args.contains("--registry")) {
      // interleaved same-JVM A/B of the registry queries the r4 bench
      // artifact flagged (r_report_* 4-20× slower) against stable v_*
      // controls: each round runs every query once, rounds repeat — if the
      // report family is genuinely slow, it is slow in EVERY round while
      // the controls stay flat; if r4 was a degraded window, all rounds
      // agree at the fast level. Never conclude from two separate runs.
      // round-6 flagged set: v_token_pmi (both r5 alternating samples
      // >100s — the one query round alternation did not clear) plus its
      // sibling v_token_bigrams, against stable controls. The r4 flagged
      // set (r_report_*) was adjudicated clean in round 5.
      val names = Seq("v_token_pmi", "v_token_bigrams",
        "v_token_topk", "v_summary")
      val qs = graft.SparkEntry.queries
      def runQ(n: String): Long = {
        qs(n)(spark, sfDir).write.format("noop").mode("overwrite").save(); 1L
      }
      names.foreach(runQ) // warm-up round (JIT + token cache)
      (1 to 3).foreach { r =>
        names.foreach(n => timed(s"reg_${n}_$r")(runQ(n)))
      }
    }
    if (args.contains("--artifacts")) {
      // 2c→8c component profile for the newest lifecycle path (VERDICT r4
      // #6): violation-store persist + latest-reconstruction + report
      // assembly over the scaled table, so an artifact-side scaling
      // regression is visible on its own row like the rule pass's
      val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "16").toInt
      val stok = TokenTable.tokensScaled(spark, sfDir, scale)
      val vd = s"/tmp/graft_explain_vstore_c$cpus"
      graft.sources.Fs.delete(spark, vd)
      val detailed = Validator.violations(stok, ruleSet, dims)
      timed("art_persist")({
        graft.engine.ViolationStore.persist(detailed, vd, 1L, 1L)
        1L
      })
      timed("art_latest")(
        graft.engine.ViolationStore.latest(spark, vd, 1L).count())
      timed("art_assemble_stored")({
        graft.report.ReportOps.assemble(
          graft.engine.ViolationStore.latest(spark, vd, 1L), Nil)
          .write.format("noop").mode("overwrite").save(); 1L
      })
      timed("art_assemble_live")({
        graft.report.ReportOps.assemble(
          Validator.violations(stok, ruleSet, dims), Nil)
          .write.format("noop").mode("overwrite").save(); 1L
      })
      timed("art_assemble_live2")({
        graft.report.ReportOps.assemble(
          Validator.violations(stok, ruleSet, dims), Nil)
          .write.format("noop").mode("overwrite").save(); 1L
      })
      graft.sources.Fs.delete(spark, vd)
    }
    if (args.contains("--statestore")) {
      // HDFS-heap vs RocksDB state store for the stateful exact dedup
      // (VERDICT r5 #8): interleaved A/B/A/B in one JVM — same input, same
      // survivor set; what differs is where the per-key state lives
      // (executor heap vs local SST files). The delta recorded in
      // BASELINE.md is the cost of bounding the heap at corpus scale.
      val docsPath = graft.sources.DocSource.materializedDocs(spark, sfDir)
      (1 to 3).foreach { round =>
        Seq(false, true).foreach { rocks =>
          val m = graft.streaming.StreamingDedup.dedupStateMetrics(
            spark, docsPath, useRocksDB = rocks)
          println(f"[explain] statestore r$round ${m.provider}%-10s " +
            f"${m.wallSec}%7.2fs survivors=${m.survivors} " +
            f"stateRows=${m.stateRows} stateMem=${m.memoryUsedBytes}")
        }
      }
    }
    spark.stop()
  }
}
