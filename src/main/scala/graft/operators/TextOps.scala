package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table `(doc_id, text, lang, source, n_chars)`: token counting, quality
  * scoring, language-ID heuristic, document fingerprinting.
  *
  * All pure `functions._` expressions (whole-stage codegen, no UDFs): a
  * 100 TB corpus pass stays scan-dominated with zero extra shuffles for the
  * per-document metrics (shuffles only where grouping is semantic, e.g.
  * fingerprint dedup groups).
  */
object TextOps {

  /** Whitespace word list, empty-token free (portable semantics: split on
    * single space + drop empties — identical in DuckDB via list_filter).
    */
  def words(text: Column): Column =
    filter(split(text, " "), w => w =!= "")

  /** Value-preserving NON-PUSHABLE array: appends a nondeterministic EMPTY
    * tail (its `slice` start reads the task's partition id), so a filter
    * referencing the alias cannot be substituted below its projection.
    *
    * Why it exists (round 7): `InferFiltersFromGenerate` infers
    * `isnotnull(x) && size(x) > 0` from every explode, and
    * `PushDownPredicates` then re-inlines the aliased chain into a
    * scan-stage Filter — evaluating the staged computation TWICE more per
    * row, and (for interpreted-HOF chains like shingling) re-inlining the
    * very O(n²) form the staging exists to prevent. The chunk-staged rule
    * pass ([[graft.engine.Validator]]) uses it on its hits array; with the
    * tail, the inferred filter stays above the projection as a cheap
    * attribute check. The tail is empty, so values are bit-identical.
    */
  def nonPushableArray(c: Column, elemType: String): Column =
    concat(c, slice(array().cast(s"array<$elemType>"),
      spark_partition_id() * 0 + 1, lit(0)))

  /** Token counting: whitespace words + a BPE-ish subword estimate
    * (ceil(chars-without-spaces / 4) — the common ~4-chars/token rule).
    */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val chars = length(col("text"))
    val spaces = chars - length(regexp_replace(col("text"), " ", ""))
    docs.select(
      col("doc_id"),
      size(words(col("text"))).as("n_words"),
      chars.as("n_chars"),
      ceil((chars - spaces).cast("double") / 4.0).cast("bigint")
        .as("n_subword_est"))
  }

  /** Quality scoring: lexical diversity + length band, deterministic
    * arithmetic only (single divisions of exact ints → engine-portable).
    */
  def qualityScores(docs: DataFrame): DataFrame = {
    // `words` is an interpreted higher-order filter with NO
    // common-subexpression elimination: stage it (and the counts) through
    // their own projections so split+filter runs ONCE per row, not once
    // per reference, and the derived arithmetic stays codegen'd.
    val counts = docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_words"),
        size(array_distinct(col("ws"))).as("n_distinct_words"))
    val nWords = col("n_words").cast("double")
    val ttr = when(nWords > 0,
      col("n_distinct_words").cast("double") / nWords).otherwise(0.0)
    val lenScore = least(lit(1.0), nWords / 100.0)
    counts.select(
      col("doc_id"), col("n_words"), col("n_distinct_words"),
      ttr.as("ttr"),
      lenScore.as("len_score"),
      (lenScore * ttr).as("quality"))
  }

  /** Language-ID heuristic: stopword-marker votes. Deliberately simple and
    * deterministic (an n-gram heuristic, not a model) so the oracle can
    * recompute it; emits the predicted language per document.
    */
  def langId(docs: DataFrame): DataFrame = {
    val t = concat(lit(" "), col("text"), lit(" "))
    val en = t.contains(" the ").cast("int") + t.contains(" a ").cast("int") +
      t.contains(" is ").cast("int")
    val de = t.contains(" der ").cast("int") + t.contains(" und ").cast("int") +
      t.contains(" ist ").cast("int")
    val fr = t.contains(" le ").cast("int") + t.contains(" et ").cast("int") +
      t.contains(" est ").cast("int")
    docs.select(col("doc_id"), col("lang"),
      when(en >= de && en >= fr && en > 0, "en")
        .when(de >= fr && de > 0, "de")
        .when(fr > 0, "fr")
        .otherwise("unknown").as("predicted"))
  }

  /** Quality RATIO metrics (the length/punct/stopword family): punctuation
    * share of characters, whitespace share, and stopword share of words —
    * all via codegen'd regexp counting (no higher-order lambdas: a single
    * CodegenFallback expression would drop the whole projection out of
    * whole-stage codegen).
    */
  val StopwordPattern = "\\b(the|a|an|and|of|to|in|is|for|on)\\b"

  def qualityRatios(docs: DataFrame): DataFrame = {
    val chars = length(col("text"))
    val punct = chars -
      length(regexp_replace(col("text"), "[^A-Za-z0-9\\s]", ""))
    val spaces = chars - length(regexp_replace(col("text"), "\\s", ""))
    val nWords = size(words(col("text")))
    val stops = regexp_count(lower(col("text")), lit(StopwordPattern))
    docs.select(col("doc_id"), chars.as("n_chars"),
      when(chars > 0, punct.cast("double") / chars.cast("double"))
        .otherwise(0.0).as("punct_ratio"),
      when(chars > 0, spaces.cast("double") / chars.cast("double"))
        .otherwise(0.0).as("space_ratio"),
      when(nWords > 0, stops.cast("double") / nWords.cast("double"))
        .otherwise(0.0).as("stopword_ratio"))
  }

  /** Character-trigram profiles for the n-gram language-ID model
    * ([[langIdNgram]]): the highest-frequency function-word trigrams of
    * each language (public letter-frequency knowledge — 'the'/'ing' for
    * English, 'der'/'sch' for German, etc.), rank-weighted. One flat
    * (trigram, lang, weight) table, broadcast at scoring time. Extend by
    * appending rows — the scorer is profile-driven, not hardcoded.
    */
  val LangProfiles: Seq[(String, String, Int)] = {
    def ranked(lang: String, tris: Seq[String]): Seq[(String, String, Int)] =
      tris.zipWithIndex.map { case (t, i) => (t, lang, tris.size - i) }
    ranked("en", Seq("the", "he ", " th", "ing", "and", " an", "nd ",
      " of", "of ", "ion", " to", "to ", "ed ", " in", "is ")) ++
    ranked("de", Seq("der", "er ", " de", "die", "ie ", "und", " un",
      "ein", " ei", "ich", "ch ", "sch", "ung", " ge", "cht")) ++
    ranked("fr", Seq("es ", "le ", " le", "ent", "nt ", "la ", " la",
      "et ", " et", "que", " qu", "ue ", "des", " pa", "ait")) ++
    ranked("es", Seq("os ", "la ", " la", "el ", " el", "as ", "ión",
      "ado", " co", "ció", "nte", " se", "una", " un", "par"))
  }

  /** Trigram sliding window over a PRE-LOWERCASED text column.
    *
    * The input must be a materialized column (stage `lower(text)` through
    * its own projection), not an inline expression: `transform` is an
    * interpreted higher-order function with NO common-subexpression
    * elimination, so an inline `lower(text)` would re-evaluate once PER
    * TRIGRAM — O(len²) per document, the same trap the winnowing operator
    * documents ([[winnowSelect]]). [[langIdNgram]] stages it.
    */
  def charTrigrams(t: Column): Column =
    when(length(t) >= 3,
      transform(sequence(lit(1), length(t) - 2), i => t.substr(i, lit(3))))
      .otherwise(array(t))

  /** N-gram-profile language ID (replaces the 9-marker heuristic of
    * [[langId]] with the standard character-n-gram profile method,
    * cf. Cavnar/Trenkle '94 via PAPERS.md): score each document against
    * every language profile by summing matched-trigram weights — explode →
    * broadcast join → two hash aggregates, all codegen'd, no UDF — and
    * predict the argmax (ties → lexicographically first language; no
    * profile hits → 'unknown'). Han-script documents short-circuit to 'zh'
    * by Unicode-range test (trigram profiles are a Latin-script method).
    *
    * Scale: the explode multiplies rows by ~n_chars, but the join is
    * broadcast and both aggregates combine map-side, so the pass stays
    * shuffle-light; the profile table is config-sized.
    */
  def langIdNgram(docs: DataFrame,
      profiles: Seq[(String, String, Int)] = LangProfiles): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val prof = profiles.toDF("tri", "plang", "w")
    val tris = docs
      .select(col("doc_id"), lower(col("text")).as("lt"))
      // trigram array staged non-pushable: the explode's inferred filter
      // otherwise substitutes `lt = lower(text)` back INSIDE the per-
      // trigram lambda at the scan — the O(len²) re-evaluation the `lt`
      // staging exists to prevent
      .select(col("doc_id"),
        nonPushableArray(charTrigrams(col("lt")), "string").as("_tri"))
      .select(col("doc_id"), explode(col("_tri")).as("tri"))
    val scored = tris.join(broadcast(prof), Seq("tri"))
      .groupBy(col("doc_id"), col("plang"))
      .agg(sum(col("w")).as("score"))
      .groupBy(col("doc_id"))
      .agg(min_by(col("plang"), struct(negate(col("score")), col("plang")))
        .as("best"))
    docs.select(col("doc_id"), col("lang"),
        col("text").rlike("[\\x{4e00}-\\x{9fff}]").as("has_cjk"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("has_cjk"), lit("zh"))
          .otherwise(coalesce(col("best"), lit("unknown"))).as("predicted"))
  }

  /** BPE-ish regex tokenization: letter runs | digit runs | punctuation
    * runs — the shape of a GPT-2-style pre-tokenizer pattern, restricted to
    * constructs Java regex and RE2 (DuckDB) match identically.
    */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"

  def bpeishTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpeishPattern), lit(0))

  /** Token counts under the BPE-ish pre-tokenizer (compare n_words from
    * [[tokenCounts]]: whitespace splitting undercounts punctuation-heavy
    * text).
    *
    * The extraction is STAGED through its own projection so the regex runs
    * once per row — inlining `bpeishTokens` twice (raw + under
    * array_distinct) evaluates the pattern twice per row (measured ~2×
    * the scan cost; CollapseProject keeps the stage because the non-cheap
    * alias is referenced more than once).
    */
  def bpeishTokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), bpeishTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_bpeish"),
        size(array_distinct(col("toks"))).as("n_bpeish_distinct"))

  /** Repetition signals (the Gopher-rule family — Rae et al. 2021,
    * "Scaling Language Models", App. A quality filters; cf. PAPERS.md):
    * the duplicate fraction of the word multiset and of the word-2-gram
    * multiset — `1 − distinct/total`. High values mark boilerplate, spam,
    * and generation loops; a standard pre-training drop signal.
    *
    * The word and gram arrays are STAGED through their own projection (the
    * winnowing lesson: interpreted HOF lambdas get no common-subexpression
    * elimination, so inlining `ws` twice re-splits the text per reference).
    * One scan, no shuffle.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    def dupFrac(c: Column): Column =
      round(when(size(c) > 0,
        lit(1.0) - size(array_distinct(c)).cast("double")
          / size(c).cast("double")).otherwise(0.0), 6)
    // the words array is staged BEFORE the 2-gram transform references it:
    // DedupOps.shingles(text, 2) inlines words(text) INSIDE the per-window
    // lambda, re-splitting the text once per 2-gram — O(n²) per document
    // (measured ~5 s → ~1 s at sf0.1 for this query alone)
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        DedupOps.shinglesOfWords(col("ws"), 2).as("g2"))
      .select(col("doc_id"),
        size(col("ws")).as("n_words"),
        dupFrac(col("ws")).as("dup_word_frac"),
        dupFrac(col("g2")).as("dup_2gram_frac"))
  }

  /** Composed quality FILTER: the keep/drop verdict with the first failing
    * reason — the gate a pre-training pipeline actually applies after
    * computing the signals. All thresholds are Gopher-shaped (word-count
    * band, mean word length band, symbol share, stopword presence) and
    * parameterized; every signal is exact integer arithmetic + one double
    * division, so the verdict is engine-portable (oracle recomputed).
    * One codegen'd projection — composes with any other per-row stage.
    */
  def qualityFilter(docs: DataFrame,
      minWords: Int = 10, maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 12.0,
      maxPunctRatio: Double = 0.30): DataFrame = {
    // word count via regexp_count("[^ ]+") — the same value as
    // size(words(text)) (non-space runs), but codegen'd: `words` is a
    // higher-order `filter`, which is CodegenFallback AND gets no
    // common-subexpression elimination — inlined through the reason
    // cascade it evaluated split+filter ~12× per row and barred the whole
    // scan stage from whole-stage codegen (PlanAuditSpec pins the fixed
    // shape). Signals are STAGED so each is computed once and the derived
    // cascade references plain columns.
    val chars = length(col("text"))
    val base = docs.select(col("doc_id"), chars.as("_chars"),
      (chars - length(regexp_replace(col("text"), " ", ""))).as("_spaces"),
      regexp_count(col("text"), lit("[^ ]+")).cast("int").as("n_words"),
      (chars - length(regexp_replace(col("text"), "[^A-Za-z0-9\\s]", "")))
        .as("_punct"))
    val staged = base.select(col("doc_id"), col("n_words"),
      when(col("n_words") > 0,
        (col("_chars") - col("_spaces")).cast("double")
          / col("n_words").cast("double")).otherwise(0.0).as("_mwl"),
      when(col("_chars") > 0,
        col("_punct").cast("double") / col("_chars").cast("double"))
        .otherwise(0.0).as("_pr"))
    val reason =
      when(col("n_words") < minWords, "too_short")
        .when(col("n_words") > maxWords, "too_long")
        .when(col("_mwl") < minMeanWordLen, "short_words")
        .when(col("_mwl") > maxMeanWordLen, "long_words")
        .when(col("_pr") > maxPunctRatio, "high_punct")
        .otherwise("ok")
    staged.select(col("doc_id"), col("n_words"),
      round(col("_mwl"), 6).as("mean_word_len"),
      round(col("_pr"), 6).as("punct_ratio"),
      reason.as("reason"), (reason === "ok").as("keep"))
  }

  /** Per-source characteristic terms by TF-IDF (tf = word occurrences in
    * the source; idf = ln(n_docs / n_docs containing the word) — the
    * standard corpus-profiling view "what words mark this domain", the
    * aggregate form of the quality-signal family). Returns the top-k terms
    * per source, rank 1..k, deterministic tie-break (score desc, word asc).
    *
    * Shape: one explode + two hash aggregates (map-side combined). The
    * tf⋈df join keys on `word`; df is vocabulary-sized (unbounded at
    * 100 TB), so it stays a shuffle join — but both sides are already
    * word-keyed aggregates, so the exchange is reused, and the final
    * top-k windows over source-keyed frames of |vocab| rows, never the
    * corpus. The doc count joins as a broadcast scalar.
    */
  def tfidfTopK(docs: DataFrame, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct (doc, word) pairs feed df; (source, word) occurrences feed tf
    val docWords = docs
      .select(col("doc_id"), col("source"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("source"), explode(col("ws")).as("word"))
    val tf = docWords.groupBy("source", "word")
      .agg(count(lit(1)).as("tf"))
    val df = docWords.select("doc_id", "word").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("word"))
      .crossJoin(broadcast(nDocs))
      .select(col("source"), col("word"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6)
          .as("tfidf"))
    val w = Window.partitionBy("source")
      .orderBy(col("tfidf").desc, col("word").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("source", "rank", "word", "tf", "df", "tfidf")
  }

  /** Shannon entropy (bits) of each document's word distribution — the
    * information-density quality signal beside TTR and the repetition
    * fractions: near-zero marks single-phrase spam, the maximum
    * log2(n_distinct) marks no repetition at all.
    *
    * One explode + two hash aggregates; the per-(doc, word) shuffle is the
    * same key-shape as every per-document aggregate here. −Σ p·log2(p) is
    * computed from exact integer counts with one division per word, so the
    * oracle replays it bit-for-bit up to summation order (round 6 masks
    * the last-ulp associativity difference).
    */
  def wordEntropy(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_words"), col("ws"))
      .select(col("doc_id"), col("n_words"), explode(col("ws")).as("word"))
      .groupBy("doc_id", "n_words", "word")
      .agg(count(lit(1)).as("cnt"))
    val p = col("cnt").cast("double") / col("n_words").cast("double")
    counts.groupBy("doc_id", "n_words")
      // + 0.0 normalizes the single-distinct-word case: −sum(0.0) is IEEE
      // −0.0, which is not byte-equal to the oracle's 0.0
      .agg(round(-sum(p * log2(p)) + lit(0.0), 6).as("word_entropy"),
        count(lit(1)).as("n_distinct_words"))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        col("word_entropy"))
  }

  /** Corpus-trained unigram language-model scoring: train word
    * log-probabilities over the whole corpus (add-nothing MLE — every
    * scored word was seen in training by construction), then score each
    * document by its mean word log-probability. The perplexity-proxy
    * quality signal real pipelines threshold on (a doc of globally-rare
    * words scores low; boilerplate of corpus-dominant words scores high),
    * with the model TRAINED BY THE ENGINE — no external LM.
    *
    * Shape: two passes over the corpus by nature (train, then score —
    * exactly an LM pipeline's epochs). The corpus-total join is a broadcast
    * scalar (provably one row); the per-word log-prob join carries NO hard
    * broadcast hint — a WORD vocabulary grows with the corpus (Heaps' law;
    * same unbounded-at-100 TB note as [[tfidfTopK]]), so forcing a
    * broadcast is an OOM at the target scale. AQE upgrades the join to a
    * broadcast at runtime while the realized vocabulary is small (PlanAudit
    * pins the upgraded final plan) and keeps the shuffle join otherwise.
    * The only corpus-keyed shuffle besides that fallback is the
    * per-document aggregate. Probabilities come from exact integer counts,
    * one division + log per word — the oracle replays them bit-for-bit up
    * to summation order (round 6).
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"), explode(words(col("text"))).as("w"))
    val freq = w.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum("c").as("tot"))
    val probs = freq.crossJoin(broadcast(tot))
      .select(col("w"),
        log(col("c").cast("double") / col("tot").cast("double")).as("lp"))
    w.join(probs, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        round(avg(col("lp")), 6).as("avg_logprob"))
  }

  /** Per-source Zipf slope: the least-squares slope of log(frequency) vs
    * log(rank) over the source's word-frequency table — natural text sits
    * near −1; machine-generated or templated sources drift toward 0 (flat)
    * or below −2 (degenerate). The corpus-naturalness monitor beside the
    * rate and drift checks. `n_types` (distinct words) rides along.
    *
    * Shape: one explode + one (source, word) hash aggregate over the
    * corpus; ranking then windows over per-source VOCABULARY frames (the
    * frequency table, not the corpus — bounded per source), and the slope
    * is covar_pop/var_pop in one final tiny aggregate. Deterministic
    * ranking tie-break (count desc, word asc) keeps both engines on the
    * same rank assignment, which the slope depends on.
    */
  def zipfSlope(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = docs
      .select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val r = row_number().over(
      Window.partitionBy("source").orderBy(col("c").desc, col("w").asc))
    freq.withColumn("r", r)
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        round(covar_pop(log(col("r").cast("double")),
            log(col("c").cast("double"))) /
          var_pop(log(col("r").cast("double"))), 6).as("zipf_slope"))
  }

  /** Document fingerprint: md5 of the sorted distinct word set — the
    * canonical-form fingerprint used for exact near-order-insensitive dedup.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(words(text)))))

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS scheme; cf. PAPERS.md): the given gram sequence is hashed, then
    * the minimum hash of every w-gram window selected — any shared gram
    * run of length ≥ w+|gram|-1 guarantees a shared fingerprint. Returns
    * the sorted distinct selected hashes as `array<bigint>`.
    *
    * Grams are a caller-supplied array column (word shingles via
    * [[graft.operators.DedupOps.shingles]] in the engine queries —
    * character k-grams are expressible too but cost ~6× the hash calls for
    * prose, and the per-gram hash is an interpreted lambda: measured 860 s
    * vs <10 s at sf0.1). `gramHash` is pluggable like SimHash's word hash:
    * xxhash64 for production, [[graft.operators.DedupOps.md5WordHash60]]
    * for oracle-replication.
    */
  def winnowFingerprints(grams: Column, w: Int,
      gramHash: Column => Column): Column =
    winnowSelect(transform(grams, g => gramHash(g)), w)

  /** Window-min selection over a PRE-HASHED gram array.
    *
    * CRITICAL at scale: `hs` must be a materialized COLUMN (stage the hash
    * transform through its own projection), not an inline expression —
    * interpreted HOF lambdas get no common-subexpression elimination, so
    * an inline `hs` is re-evaluated once PER WINDOW, turning O(n·w) into
    * O(n²·hash) (measured 104 s vs 3 s at sf0.1). [[winnowFingerprints]]
    * is the convenience single-expression form for small inputs;
    * [[graft.operators.DedupOps.winnowDuplicates]] stages it.
    */
  def winnowSelect(hs: Column, w: Int): Column = {
    val windows = when(size(hs) >= w,
      transform(sequence(lit(0), size(hs) - w),
        i => array_min(slice(hs, i + 1, lit(w)))))
      .otherwise(array(array_min(hs)))
    array_sort(array_distinct(windows))
  }

  // ---------------------------------------------------------------- PII

  /** PII patterns, restricted to regex constructs with identical semantics
    * in `java.util.regex` (Spark's engine) and RE2 (DuckDB's): character
    * classes, bounded repetition, `\b`, `\d` (ASCII in both) — no
    * backreferences, no lookaround, so leftmost-greedy matching agrees
    * byte-for-byte across engines.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{1,2}-\\d{3}-\\d{4}"

  /** Redact PII in-place, email → IP → phone (a fixed order, since each
    * replacement changes the text the next pattern scans).
    */
  def piiRedact(t: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-document PII counts + redaction size delta over a caller-supplied
    * text column (pipelines scrub the RAW text; the engine's fixture
    * augments the synthetic text with deterministic PII so the scrub has
    * real matches to find).
    *
    * Scale shape: pure per-row regex projection — one scan, no shuffle;
    * the three `regexp_count`s and the redact chain all ride the same
    * whole-stage-codegen pass. `chars_delta` is (original − redacted)
    * length, negative when the tag outgrows the match — kept signed so the
    * oracle replays it exactly.
    */
  def piiCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col("doc_id"), col("source"),
      regexp_count(t, lit(EmailRe)).cast("bigint").as("n_emails"),
      regexp_count(t, lit(Ipv4Re)).cast("bigint").as("n_ips"),
      regexp_count(t, lit(PhoneRe)).cast("bigint").as("n_phones"),
      (length(t) - length(piiRedact(t))).cast("bigint").as("chars_delta"))
  }

  // ------------------------------------------------------ normalization

  /** Canonical text normalization — the step that runs BEFORE any
    * hash-keyed dedup so trivially-reformatted copies collide: lowercase,
    * collapse whitespace runs to one space, trim. Restricted to
    * engine-portable pieces (lower + `\s+` regex — byte-identical in
    * java.util.regex and RE2); a production variant would add Unicode NFC,
    * which has no DuckDB analogue to verify against. Idempotent by
    * construction (spec-pinned): normalize∘normalize = normalize.
    */
  def normalizeText(t: Column): Column =
    trim(regexp_replace(lower(t), "\\s+", " "))

  /** Per-document normalization report over a caller-supplied text column:
    * the normalized length, whether anything changed, and the bytes saved.
    * Pure per-row projection — rides any corpus scan.
    */
  def normalizeReport(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val n = normalizeText(t)
    docs.select(col("doc_id"), col("source"),
      length(n).cast("bigint").as("norm_len"),
      (n =!= t).as("changed"),
      (length(t) - length(n)).cast("bigint").as("chars_saved"))
  }

  // ------------------------------------------------ LM quality buckets

  /** CCNet-style perplexity bucketing: assign each document a quality
    * bucket from its unigram-LM average log-probability (head / mid / low /
    * tail by FIXED cutoffs — rank-free, so the assignment is stable under
    * corpus growth and needs no global sort), and aggregate per-bucket
    * population stats. Pipelines keep `head`+`mid`, re-sample `low`, drop
    * `tail`.
    *
    * Bucketing keys on the ROUNDED score (round 6) that
    * [[unigramLogProb]] already emits — the value the oracle reproduces
    * hash-identically — so a cross-engine double wobble below 1e-6 can
    * never flip a document across a cutoff that the rounded value doesn't
    * also cross.
    *
    * Scale shape: [[unigramLogProb]]'s one explode + vocab aggregate +
    * frequency join, then a per-row CASE and a 4-group aggregate — nothing
    * new shuffles at corpus scale.
    */
  def lmQualityBuckets(docs: DataFrame, cutoffs: (Double, Double, Double) =
      (-3.55, -3.41, -3.40)): DataFrame = {
    val (tail, low, mid) = cutoffs
    val lp = col("avg_logprob")
    val bucket = when(lp < tail, "tail")
      .when(lp < low, "low")
      .when(lp < mid, "mid")
      .otherwise("head")
    unigramLogProb(docs)
      .select(col("doc_id"), col("n_words"), lp, bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(min(lp), 6).as("min_lp"),
        round(max(lp), 6).as("max_lp"),
        round(avg(col("n_words")), 6).as("avg_words"))
  }
}
