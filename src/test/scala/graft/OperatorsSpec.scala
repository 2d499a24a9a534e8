package graft

import org.apache.spark.sql.functions._
import graft.operators._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox", "en", "s1", 19L),
    (2L, "le chat et le chien", "fr", "s1", 19L),
    (3L, "fox brown quick the", "en", "s2", 19L), // same word set as 1
    (4L, "", "en", "s2", 0L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("token counts") {
    val got = TextOps.tokenCounts(docs).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(1L -> 4, 2L -> 5, 3L -> 4, 4L -> 0))
  }

  test("quality: ttr = distinct/total") {
    val r = TextOps.qualityScores(docs).where($"doc_id" === 2).collect().head
    assert(r.getAs[Int]("n_words") === 5)
    assert(r.getAs[Int]("n_distinct_words") === 4) // 'le' twice
    assert(math.abs(r.getAs[Double]("ttr") - 0.8) < 1e-12)
  }

  test("langId votes: en beats fr on markers") {
    val got = TextOps.langId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) === "en")   // contains ' the '? padded text has ' the '
    assert(got(2L) === "fr")   // ' le ' + ' et '
    assert(got(4L) === "unknown")
  }

  test("fingerprint is word-order insensitive") {
    val fp = TextOps.fingerprints(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) === fp(3L))
    assert(fp(1L) !== fp(2L))
  }

  test("tfidf: source-frequent + doc-rare word ranks first, exact ln value") {
    val d = Seq(
      (1L, "apple apple apple banana", "s1"),
      (2L, "apple cherry", "s1"),
      (3L, "banana dog", "s2"),
      (4L, "dog dog cherry", "s2")
    ).toDF("doc_id", "text", "source")
    val got = TextOps.tfidfTopK(d, k = 2).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getString(2), r.getDouble(5))).toMap
    // every word is in exactly 2 of 4 docs -> idf = ln 2 for all; rank is
    // by tf: apple tf=4 in s1, dog tf=3 in s2
    val ln2 = math.log(2.0)
    assert(got(("s1", 1))._1 === "apple")
    assert(got(("s1", 1))._2 === BigDecimal(4 * ln2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(("s2", 1))._1 === "dog")
  }

  test("word entropy: exact bits for uniform and degenerate distributions") {
    val d = Seq(
      (1L, "a a b b"),          // two words, uniform -> 1 bit
      (2L, "a b c d"),          // four distinct, uniform -> 2 bits
      (3L, "a a a a")           // single word -> 0 bits (and not -0.0)
    ).toDF("doc_id", "text")
    val got = TextOps.wordEntropy(d).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("word_entropy")).toMap
    assert(got(1L) === 1.0)
    assert(got(2L) === 2.0)
    assert(got(3L) === 0.0)
    assert(java.lang.Double.doubleToRawLongBits(got(3L)) === 0L) // not -0.0
  }
}

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "a b c d e f g h i j"),
    (2L, "a b c d e f g h i j"),          // exact dup of 1
    (3L, "a b c d e f g h i k"),          // near dup (9/11 shingle overlap)
    (4L, "z y x w v u t s r q"),          // unrelated
    (5L, "m n o p q r s t u v")
  ).toDF("doc_id", "text")

  test("exact duplicates: same-word-set docs grouped, keeper = min id") {
    val got = DedupOps.exactDuplicates(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper"),
        r.getAs[Boolean]("keep"))).toSet
    assert(got === Set((1L, 1L, true), (2L, 1L, false)))
  }

  test("source overlap matrix counts distinct shared fingerprints per pair") {
    val d = Seq(
      (1L, "a b c", "s1"), (2L, "x y z", "s1"),
      (3L, "c b a", "s2"),               // same word set as 1 -> shared fp
      (4L, "p q r", "s2"), (5L, "p q r", "s2"), // dup INSIDE s2: no pair row
      (6L, "q p r", "s3")                // shares with s2 only
    ).toDF("doc_id", "text", "source")
    val got = DedupOps.sourceOverlapMatrix(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("s1", "s2") -> 1L, ("s2", "s3") -> 1L))
  }

  test("minhash LSH finds exact and near dups, not unrelated") {
    val pairs = DedupOps.minHashDuplicates(docs, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b) === Set(1L, 4L) })
  }

  test("jaccard values are exact") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("doc_a", "doc_b")
    val j = DedupOps.ngramJaccardPairs(docs, pairs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) === 1.0)
    assert(j((1L, 4L)) === 0.0)
  }

  test("exactJaccardPairs equals the array intersect/union form (round 7)") {
    // the inverted-index exact side must reproduce the
    // array_intersect/array_union jaccard bit for bit on every pair that
    // shares ≥1 shingle (pairs sharing none have jaccard 0 by definition
    // and are not emitted)
    val d = docs.where($"doc_id" < 40)
    val inv = DedupOps.exactJaccardPairs(d, 3)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val sh = d.select($"doc_id",
      org.apache.spark.sql.functions.array_distinct(
        DedupOps.shingles($"text", 3)).as("sh"))
    val a = sh.select($"doc_id".as("doc_a"), $"sh".as("sh_a"))
    val b = sh.select($"doc_id".as("doc_b"), $"sh".as("sh_b"))
    val ref = a.join(b, $"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b",
        (org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.array_intersect($"sh_a", $"sh_b"))
          .cast("double") /
          org.apache.spark.sql.functions.size(
            org.apache.spark.sql.functions.array_union($"sh_a", $"sh_b"))
            .cast("double")).as("j"))
      .as[(Long, Long, Double)].collect()
    ref.foreach { case (da, db, j) =>
      if (j > 0.0) assert(inv((da, db)) === j, s"pair ($da,$db)")
      else assert(!inv.contains((da, db)), s"pair ($da,$db) should be absent")
    }
  }

  test("winnowing: identical docs share all fingerprints, disjoint none") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again ok"),
      (2L, "the quick brown fox jumps over the lazy dog again and again ok"),
      (3L, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk")  // disjoint
    ).toDF("doc_id", "text")
    val pairs = DedupOps.winnowDuplicates(d, kWords = 3, w = 4, minShared = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    // identical docs share EVERY selected fingerprint
    val nFp = d.where($"doc_id" === 1)
      .select(org.apache.spark.sql.functions.size(
        TextOps.winnowFingerprints(
          DedupOps.shingles(col("text"), 3), 4, DedupOps.xxWordHash)))
      .head().getInt(0)
    assert(pairs.head._3 === nFp.toLong)
    // a shared word run of >= kWords+w+1 grams guarantees a shared
    // fingerprint (the winnowing guarantee, word-gram form)
    val e = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota unique1 tail1"),
      (2L, "pre2 alpha beta gamma delta epsilon zeta eta theta iota other2")
    ).toDF("doc_id", "text")
    val shared = DedupOps.winnowDuplicates(e, 3, 4, minShared = 1)
      .count()
    assert(shared === 1)
  }

  test("bpeish tokenization counts letter/digit/punct runs") {
    val d = Seq((1L, "don't stop—2024 rocks!!"), (2L, "")).toDF("doc_id", "text")
    val got = TextOps.bpeishTokenCounts(d).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // don | ' | t | stop | — | 2024 | rocks | !!
    assert(got(1L) === 8)
    assert(got(2L) === 0)
  }

  test("hot-bucket guard: adversarial identical corpus stays O(n·cap)") {
    // 300 byte-identical docs: every band key is identical, so the
    // unguarded self-join would emit 300·299/2 ≈ 45k candidate pairs
    val degenerate = (1L to 300L).map(i => (i, "a b c d e f g h i j"))
      .toDF("doc_id", "text")
    val capped = DedupOps.minHashCandidates(degenerate, bucketCap = 50)
    assert(capped.count() === 0) // dropped whole — exact-dup pass owns these
    val dropped = DedupOps.oversizedBuckets(
      DedupOps.minHashBands(degenerate, 3, 4, 4),
      Seq("band_id", "band_key"), 50).collect()
    assert(dropped.length === 4) // one oversized bucket per band
    assert(dropped.forall(_.getAs[Long]("bucket_n") === 300L))
    // simhash guard: same corpus, same containment
    assert(DedupOps.simHashDuplicates(degenerate, bucketCap = 50).count() === 0)
    // healthy data is untouched by the guard
    val pairs = DedupOps.minHashCandidates(docs, bucketCap = 50)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("banded embedding LSH finds high-cos pairs and respects the cap") {
    // vec 10/11 nearly identical; vec 12 orthogonal-ish
    val e = Seq(
      (10L, Array.tabulate(16)(i => 0.25f + 0.001f * i)),
      (11L, Array.tabulate(16)(i => 0.25f + 0.001f * i + 0.002f)),
      (12L, Array.tabulate(16)(i => if (i % 2 == 0) 0.35f else -0.35f))
    ).toDF("vec_id", "embedding")
    val got = DedupOps.embeddingNearDuplicates(e, threshold = 0.99)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(got === Set((10L, 11L)))
    // degenerate: many copies of one vector → bucket capped, no blowup
    val clones = (1L to 200L)
      .map(i => (i, Array.tabulate(16)(j => 0.25f)))
      .toDF("vec_id", "embedding")
    assert(DedupOps.embeddingNearDuplicates(clones, bucketCap = 50)
      .count() === 0)
  }

  test("simhash: identical docs collide; hamming grows with difference") {
    val s = DedupOps.simHash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(1L) === s(2L))
    val dups = DedupOps.simHashDuplicates(docs, maxHamming = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(dups.contains((1L, 2L)))
  }

  test("contamination check: overlap thresholds, no self/eval-internal hits") {
    val eval = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta"), // 4 shared 3-shingles w/ 1
      (11L, "one two three something else entirely"),   // 1 shared w/ 2 → below min
      (12L, "totally unrelated words here now")         // clean
    ).toDF("doc_id", "text")
    val got = DedupOps.contaminationCheck(corpus, eval, w = 3, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((10L, 1L, 4L))) // (doc, n_eval_hits, max_shared)
  }

  test("connected components: path graph, forest, and singletons converge") {
    val s = spark
    import s.implicits._
    // a 5-node PATH (worst-case diameter for label propagation), a separate
    // triangle, and an isolated pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // path → cluster 1
      (10L, 11L), (11L, 12L), (10L, 12L),     // triangle → cluster 10
      (20L, 21L)                              // pair → cluster 20
    ).toDF("doc_a", "doc_b")
    val got = DedupOps.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
    // invariant under repartitioning/order (deterministic min labels)
    val got2 = DedupOps.connectedComponents(
        pairs.orderBy(col("doc_b").desc).repartition(7))
      .as[(Long, Long)].collect().toMap
    assert(got2 === got)
  }

  test("connected components: unconverged exit throws, never lies") {
    // VERDICT r4 #4: a component whose diameter exceeds maxIters used to
    // return silently-wrong split clusters. A 12-hop chain needs ~11
    // propagation rounds; capping at 3 must THROW, and the stats variant
    // must report the unconverged exit explicitly.
    val s = spark
    import s.implicits._
    val chain = (1L until 13L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val r = DedupOps.connectedComponentsWithStats(chain, maxIters = 3)
    assert(!r.converged && r.rounds === 3 && r.lastChanged > 0)
    val e = intercept[IllegalStateException] {
      DedupOps.connectedComponents(chain, maxIters = 3)
    }
    assert(e.getMessage.contains("did not converge"))
    // a sufficient budget converges the same chain to one cluster
    val ok = DedupOps.connectedComponentsWithStats(chain, maxIters = 20)
    assert(ok.converged && ok.lastChanged === 0L)
    assert(ok.labels.as[(Long, Long)].collect().toMap
      === (1L to 13L).map(_ -> 1L).toMap)
  }

  test("deterministic split: layout-invariant, partitions the corpus") {
    val s = spark
    import s.implicits._
    val docs = spark.range(0, 1000).select(col("id").as("doc_id"))
    val a = SampleOps.assignSplits(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val b = SampleOps.assignSplits(docs.repartition(13).orderBy(rand(42)))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a === b) // rand() would fail this
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts.keySet === Set("train", "valid", "test"))
    // 80/10/10 within hash tolerance on 1000 ids
    assert(math.abs(counts("train") - 800) < 60, counts.toString)
    assert(math.abs(counts("valid") - 100) < 40, counts.toString)
    // sampleFraction = a prefix of the same buckets: nested subsets
    val s10 = SampleOps.sampleFraction(docs, "doc_id", 10)
      .as[Long].collect().toSet
    val s20 = SampleOps.sampleFraction(docs, "doc_id", 20)
      .as[Long].collect().toSet
    assert(s10.subsetOf(s20))
    assert(s10.nonEmpty && s20.size > s10.size)
  }

  test("greedy packing: boundaries, straddle docs, per-source independence") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a1", 4, "A", 1L), ("a2", 4, "A", 2L), ("a3", 4, "A", 3L),
      ("a4", 4, "A", 4L),
      ("b1", 9, "N", 1L), ("b2", 3, "N", 2L)
    ).toDF("doc_id", "n_tok", "source", "okey")
    val asg = PackOps.packAssignments(df, budget = 10)
      .select("source", "doc_id", "pack_id")
      .as[(String, String, Long)].collect().toSet
    // a4 starts at token 12 → pack 1; b2 starts at 9 (< 10) → straddles
    // into pack 0 (first-token rule)
    assert(asg === Set(("A", "a1", 0L), ("A", "a2", 0L), ("A", "a3", 0L),
      ("A", "a4", 1L), ("N", "b1", 0L), ("N", "b2", 0L)))
    val sum = PackOps.packSummary(df, budget = 10)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(sum === Set(("A", 0L, 3L, 12L), ("A", 1L, 1L, 4L),
      ("N", 0L, 2L, 12L)))
    // token mass conserved across packs
    assert(sum.toSeq.map(_._4).sum === df.agg(org.apache.spark.sql
      .functions.sum("n_tok")).head().getLong(0))
    // layout-invariance: repartitioned/shuffled input → same assignment
    val asg2 = PackOps.packAssignments(
        df.repartition(5).orderBy(col("n_tok").desc), budget = 10)
      .select("source", "doc_id", "pack_id")
      .as[(String, String, Long)].collect().toSet
    assert(asg2 === asg)
  }

  test("two-level packing: flat-greedy pack shape without the serial window") {
    val s = spark
    import s.implicits._
    // one monolithic source — the skew case the flat window serializes
    val df = (0 until 200).map(i =>
      (f"d$i%03d", (i * 7) % 37 + 1, "S", i.toLong))
      .toDF("doc_id", "n_tok", "source", "okey")
    val budget = 100
    val maxTok = 37L

    // nBuckets = 1 → the bucket order degenerates to the doc order: the
    // two-level form IS the flat form
    val flat = PackOps.packAssignments(df, budget)
      .select("doc_id", "pack_id").as[(String, Long)].collect().toMap
    val one = PackOps.packAssignmentsBucketed(df, budget, nBuckets = 1)
      .select("doc_id", "pack_id").as[(String, Long)].collect().toMap
    assert(one === flat)

    // nBuckets = 4: a different (bucket-major) total order, same contract —
    // total mass conserved and every NON-final pack budget-filled up to its
    // single boundary doc, exactly like the flat greedy
    def shape(sum: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      sum.select("pack_id", "pack_tokens").as[(Long, Long)]
        .collect().toSeq.sortBy(_._1)
    val flatShape = shape(PackOps.packSummary(df, budget))
    val bkShape = shape(PackOps.packSummaryBucketed(df, budget, nBuckets = 4))
    assert(bkShape.map(_._2).sum === flatShape.map(_._2).sum)
    val lastPack = bkShape.map(_._1).max
    bkShape.filter(_._1 < lastPack).foreach { case (pid, mass) =>
      assert(mass > budget - maxTok && mass < budget + maxTok,
        s"pack $pid mass $mass violates the boundary-doc bound")
    }
    // pack count can differ only via the final boundary doc's landing spot
    assert(math.abs(bkShape.length - flatShape.length) <= 1)

    // layout-invariance (deterministic hash bucket, not row order)
    val a = PackOps.packAssignmentsBucketed(df, budget, nBuckets = 4)
      .select("doc_id", "pack_id").as[(String, Long)].collect().toMap
    val b = PackOps.packAssignmentsBucketed(
        df.repartition(7).orderBy(col("n_tok").desc), budget, nBuckets = 4)
      .select("doc_id", "pack_id").as[(String, Long)].collect().toMap
    assert(a === b)
  }

  test("topTokens: frequency order, deterministic ties, null arrays skipped") {
    val t = Seq(
      ("a", Array(1, 1, 2, 3), 4, "S"),
      ("b", Array(1, 2, 2, 9), 4, "S"),
      ("c", null.asInstanceOf[Array[Int]], 0, "S")
    ).toDF("doc_id", "tokens", "n_tok", "source")
    val got = graft.engine.StatsOps.topTokens(t, 3)
      .select("token", "cnt", "rank")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
      .sortBy(_._3)
    // 1 and 2 tie at 3 → lower token id first; then 3 (ties with 9 → 3 wins)
    assert(got === Seq((1, 3L, 1), (2, 3L, 2), (3, 1L, 3)))
  }
}

class SimilarityOpsSpec extends SparkSpec {
  import spark.implicits._

  private def embs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f), 1),
    (3L, Array(0.0f, 0.0f, 1.0f), 2),
    (4L, Array(-1.0f, 0.0f, 0.0f), 3)
  ).toDF("vec_id", "embedding", "label")

  test("brute-force top-k ranks by cosine") {
    val got = SimilarityOps.bruteForceTopK(embs, Seq(1.0, 0.0, 0.0), 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(got === Seq(0L, 1L, 2L) || got === Seq(0L, 1L, 3L)) // 2/3 tie at 0
  }

  test("native DotProduct is bit-identical to the HOF left fold") {
    // 200 pseudo-random double arrays: the codegen'd loop must reproduce
    // the interpreted fold exactly (same summation order)
    val vecs = (0 until 200).map { r =>
      (r.toLong, Array.tabulate(64)(j =>
        math.sin(r * 31 + j * 17) * 0.3))
    }.toDF("vec_id", "embedding")
    val a = vecs.select(col("vec_id"), col("embedding").as("ea"))
    val b = vecs.select((col("vec_id") + 1).as("vec_id"), col("embedding").as("eb"))
    val both = a.join(b, "vec_id")
      .select(
        SimilarityOps.dot(col("ea"), col("eb")).as("native"),
        SimilarityReference.dotHof(col("ea").cast("array<double>"),
          col("eb").cast("array<double>")).as("hof"))
      .collect()
    assert(both.length === 199)
    both.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    // SQL surface via GraftExtensions
    vecs.createOrReplaceTempView("dotspec_vecs")
    val viaSql = spark.sql(
      """SELECT dot_product(CAST(embedding AS ARRAY<DOUBLE>),
        |                   CAST(embedding AS ARRAY<DOUBLE>)) AS d
        |FROM dotspec_vecs WHERE vec_id = 0""".stripMargin)
      .head().getDouble(0)
    val expected = vecs.where(col("vec_id") === 0)
      .select(SimilarityOps.dot(col("embedding"), col("embedding")))
      .head().getDouble(0)
    assert(viaSql === expected)
  }

  test("fused CosineSim is bit-identical to the composed dot/sqrt form") {
    val vecs = (0 until 150).map { r =>
      (r.toLong, Array.tabulate(48)(j => math.sin(r * 13 + j * 7) * 0.4))
    }.toDF("vec_id", "embedding")
    val a = vecs.select(col("vec_id"), col("embedding").as("ea"))
    val b = vecs.select((col("vec_id") + 1).as("vec_id"),
      col("embedding").as("eb"))
    val both = a.join(b, "vec_id")
      .select(SimilarityOps.cosine(col("ea"), col("eb")).as("fused"),
        SimilarityReference.cosineComposed(col("ea"), col("eb")).as("composed"))
      .collect()
    assert(both.length === 149)
    both.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    // zero-norm guard
    val z = Seq((Array(0.0, 0.0), Array(1.0, 0.0))).toDF("za", "zb")
      .select(SimilarityOps.cosine(col("za"), col("zb")))
      .head().getDouble(0)
    assert(z === 0.0)
    // SQL surface
    vecs.createOrReplaceTempView("cosspec_vecs")
    val viaSql = spark.sql(
      """SELECT cosine_sim(CAST(embedding AS ARRAY<DOUBLE>),
        |                  CAST(embedding AS ARRAY<DOUBLE>)) AS c
        |FROM cosspec_vecs WHERE vec_id = 3""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(viaSql - 1.0) < 1e-12)
  }

  test("native HyperplaneSig is bit-identical to the HOF formulation") {
    // real embeddings + synthetic vectors (negatives, tiny values) so every
    // sign-bit path is exercised; equality must be EXACT (longs) — the LSH
    // candidate sets downstream depend on identical signatures
    val vecs = (0 until 300).map { r =>
      (r.toLong, Array.tabulate(48)(j => math.sin(r * 29 + j * 11) * 0.5))
    }.toDF("vec_id", "embedding")
    Seq(8, 64).foreach { nPlanes =>
      val both = vecs.select(
          SimilarityOps.hyperplaneSignature(col("embedding"), nPlanes)
            .as("native"),
          SimilarityReference.hyperplaneSignatureHof(col("embedding"), nPlanes)
            .as("hof"))
        .collect()
      both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    }
    // fixture embeddings too (the shapes the registry queries hash)
    val fix = embs.select(
        SimilarityOps.hyperplaneSignature(col("embedding"), 64).as("native"),
        SimilarityReference.hyperplaneSignatureHof(col("embedding"), 64).as("hof"))
      .collect()
    assert(fix.nonEmpty)
    fix.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("cosine is exact on unit vectors") {
    val c = embs.select(
      SimilarityOps.cosine(col("embedding"),
        lit(Array(1.0, 0.0, 0.0))).as("c"))
      .orderBy(desc("c")).as[Double].collect()
    assert(math.abs(c.head - 1.0) < 1e-12)
    assert(math.abs(c.last - (-1.0)) < 1e-12)
  }

  test("lsh top-k keeps the true nearest neighbour in its probe set") {
    val got = SimilarityOps.lshTopK(embs, Seq(1.0, 0.0, 0.0), 2,
      nPlanes = 8, probeHamming = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(got.contains(0L))
  }

  test("kMeans refinement separates planted clusters with full purity") {
    // 3 planted clusters around orthogonal axes + deterministic jitter;
    // seeds are vec 0,1,2 (one per cluster by construction)
    val data = (0 until 90).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(8)(j =>
        (if (j == c) 1.0 else 0.0) + 0.05 * math.sin(i * 7 + j)))
    }.toDF("vec_id", "embedding")
    val cents = SimilarityOps.kMeansCentroids(data, 3, 2)
    assert(cents.count() === 3)
    val purity = SimilarityOps.assignTo(data, cents)
      .groupBy("centroid_id")
      .agg(countDistinct(pmod(col("vec_id"), lit(3))).as("n_clusters"))
      .select("n_clusters").as[Long].collect()
    assert(purity.toSeq === Seq(1L, 1L, 1L))
  }

  test("ivf assigns every vector and probes nearest lists") {
    val assign = SimilarityOps.ivfAssign(embs, 2)
    assert(assign.count() === 5)
    val got = SimilarityOps.ivfTopK(embs, Seq(1.0, 0.0, 0.0), 2,
      nCentroids = 2, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(got.contains(0L))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media decode plumbing: schema + deterministic stub features") {
    val docs = Seq((1L, "hello world", "en", "s", 11L),
      (2L, "abc", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = MultimodalOps.asMediaTable(docs)
    assert(media.schema.fieldNames.toSeq ===
      Seq("doc_id", "payload", "media_type"))
    val feats = MultimodalOps.decodeFeatures(spark, media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(feats(1L).n_bytes === 11)
    assert(feats(1L).width === 16 + 11 % 64)
    assert(feats(1L).feat.length === 8)
    // deterministic: same payload → same features
    val again = MultimodalOps.decodeFeatures(spark, media).collect()
      .map(f => f.doc_id -> f.feat.toSeq).toMap
    assert(again(1L) === feats(1L).feat.toSeq)
  }

  test("real PNG/JPEG byte fixtures yield true header dimensions") {
    // VERDICT r5 #7: dimensions are REAL for real payloads (pure-JVM
    // header reads); only non-image payloads fall back to the stub
    val png = (Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt,
      0x0D, 0x0A, 0x1A, 0x0A,             // signature
      0, 0, 0, 13) ++                     // IHDR length
      Array('I'.toInt, 'H'.toInt, 'D'.toInt, 'R'.toInt) ++
      Array(0, 0, 2, 0x80) ++             // width  = 640
      Array(0, 0, 1, 0xE0) ++             // height = 480
      Array(8, 6, 0, 0, 0) ++             // depth/color/etc
      Array(0, 0, 0, 0)).map(_.toByte)    // CRC (unchecked)
    assert(MultimodalOps.imageDimensions(png) === Some((640, 480)))
    val jpg = (Array(0xFF, 0xD8,                    // SOI
      0xFF, 0xE0, 0x00, 0x10) ++                    // APP0, len 16
      Array.fill(14)(0x4A) ++                       // APP0 payload
      Array(0xFF, 0xC0, 0x00, 0x11,                 // SOF0, len 17
        8, 0x01, 0xE0, 0x02, 0x80, 3) ++            // prec, h=480, w=640
      Array.fill(9)(0) ++                           // 3 components
      Array(0xFF, 0xD9)).map(_.toByte)              // EOI
    assert(MultimodalOps.imageDimensions(jpg) === Some((640, 480)))
    assert(MultimodalOps.imageDimensions("not an image".getBytes) === None)
    assert(MultimodalOps.imageDimensions(Array.empty[Byte]) === None)
    // end-to-end through the partition-batched decode path
    val media = Seq((1L, png, "image/png"), (2L, jpg, "image/jpeg"),
      (3L, "plain text".getBytes, "image/stub"))
      .toDF("doc_id", "payload", "media_type")
    val feats = MultimodalOps.decodeFeatures(spark, media)
      .collect().map(f => f.doc_id -> f).toMap
    assert((feats(1L).width, feats(1L).height) === ((640, 480)))
    assert((feats(2L).width, feats(2L).height) === ((640, 480)))
    val (sw, sh, _) = MultimodalOps.stubDecode("plain text".getBytes)
    assert((feats(3L).width, feats(3L).height) === ((sw, sh)))
  }

  test("frame sampling emits every stride-th fixed-size frame") {
    val docs = Seq((1L, "aaaabbbbccccdddd", "en", "s", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val frames = MultimodalOps.sampleFrames(
        MultimodalOps.asMediaTable(docs), frameBytes = 4, stride = 2)
      .collect().map(r => (r.getInt(1), new String(r.getAs[Array[Byte]](2))))
    assert(frames.toSeq === Seq((0, "aaaa"), (2, "cccc")))
  }

  test("frame sampling is byte-safe on non-UTF-8 payloads") {
    val s = spark
    import s.implicits._
    // bytes 0x80-0x8F are invalid as UTF-8 — a string round-trip mangles them
    val raw = Array.tabulate(16)(i => (0x80 + i).toByte)
    val media = Seq((1L, raw, "video/stub"))
      .toDF("doc_id", "payload", "media_type")
    val frames = MultimodalOps.sampleFrames(media, frameBytes = 8, stride = 1)
      .orderBy("frame_idx")
      .collect().map(_.getAs[Array[Byte]]("frame_payload"))
    assert(frames.length === 2)
    assert(frames(0).toSeq === raw.slice(0, 8).toSeq)
    assert(frames(1).toSeq === raw.slice(8, 16).toSeq)
  }

  test("n-gram-profile language ID discriminates real multilingual text") {
    import spark.implicits._
    val multi = Seq(
      (1L, "the cat is sitting in the garden and the dog is running to the house", "en"),
      (2L, "der hund und die katze sind in dem garten und ich gehe in die schule", "de"),
      (3L, "le chien et le chat sont dans le jardin et la maison est grande", "fr"),
      (4L, "el perro y el gato por la casa y una cosa de los parques", "es"),
      (5L, "猫和狗在花园里", "zh"), // Han script → zh
      (6L, "zzz qqq xxx", "xx") // no profile hits → unknown
    ).toDF("doc_id", "text", "lang")
    val got = TextOps.langIdNgram(multi)
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es",
      5L -> "zh", 6L -> "unknown"))
  }

  test("dimension loader: JSON value sets drive referential checks; malformed fails") {
    import spark.implicits._
    val dims = graft.sources.DimensionLoader.parse(spark,
      """{"valueSets": {"colors": ["red", "blue"], "codes": [1, 2, 3]}}""")
    assert(dims.keySet === Set("colors", "codes"))
    val df = Seq(("d1", Array(1), 1, "red"), ("d2", Array(2), 1, "green"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val v = graft.engine.Validator.violations(df, graft.rules.RuleSet("colors",
      Seq(graft.rules.ReferentialRule("ref_color", "source", "colors"))), dims)
    assert(v.select("doc_id").as[String].collect().toSeq === Seq("d2"))
    intercept[IllegalArgumentException] {
      graft.sources.DimensionLoader.parse(spark,
        """{"valueSets": {"oops": "not-an-array"}}""")
    }
  }
}

class EventOpsSpec extends SparkSpec {
  import spark.implicits._
  import java.sql.Timestamp

  private def ts(s: String) = Timestamp.valueOf(s)

  private def events = Seq(
    // user 1: completes view -> click -> purchase inside the window
    (1L, ts("2024-01-01 00:00:00"), "view"),
    (1L, ts("2024-01-01 01:00:00"), "click"),
    (1L, ts("2024-01-01 02:00:00"), "purchase"),
    // user 2: click 30h after view - outside the 24h conversion window
    (2L, ts("2024-01-01 00:00:00"), "view"),
    (2L, ts("2024-01-02 06:00:00"), "click"),
    // user 3: click with no view - never enters the funnel
    (3L, ts("2024-01-01 00:00:00"), "click"),
    // user 4: purchase BEFORE the click - ordered funnel must not count it
    (4L, ts("2024-01-01 00:00:00"), "purchase"),
    (4L, ts("2024-01-01 01:00:00"), "view"),
    (4L, ts("2024-01-01 02:00:00"), "click"),
    // user 5: click at the SAME instant as view - strictly-after excludes it
    (5L, ts("2024-01-01 00:00:00"), "view"),
    (5L, ts("2024-01-01 00:00:00"), "click")
  ).toDF("user_id", "ts", "event_type")

  test("windowed ordered funnel: order, window, and strictness enforced") {
    val got = graft.operators.EventOps.funnelSummary(
        events, Seq("view", "click", "purchase"),
        withinSeconds = Some(24L * 3600))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got === Map(1 -> 4L, 2 -> 2L, 3 -> 1L))
  }

  test("props extraction: declared schema, typed field, malformed -> null") {
    val d = Seq(
      (1L, """{"k": 7}"""),
      (2L, """{"k": "notanint"}"""),
      (3L, """not json at all""")
    ).toDF("event_id", "props")
    val got = graft.operators.EventOps.extractProps(d, "k BIGINT")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(r.fieldIndex("k"))) None else Some(r.getLong(2))))
      .toMap
    assert(got(1L) === Some(7L))
    assert(got(2L) === None)
    assert(got(3L) === None)
  }

  test("transition counts follow per-key time order") {
    val d = Seq(
      (1L, 1L, ts("2024-01-01 00:00:00"), "view"),
      (2L, 1L, ts("2024-01-01 01:00:00"), "click"),
      (3L, 1L, ts("2024-01-01 02:00:00"), "view"),
      (4L, 2L, ts("2024-01-01 00:00:00"), "view"),
      (5L, 2L, ts("2024-01-01 01:00:00"), "click")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.operators.EventOps.transitionCounts(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("view", "click") -> 2L, ("click", "view") -> 1L))
  }

  test("inter-arrival gaps are exact microseconds per (key, type)") {
    val d = Seq(
      (1L, 1L, ts("2024-01-01 00:00:00"), "view"),
      (2L, 1L, ts("2024-01-01 00:00:01"), "view"),   // 1s gap
      (3L, 1L, ts("2024-01-01 00:00:04"), "view"),   // 3s gap
      (4L, 2L, ts("2024-01-01 00:00:00"), "view"),   // other user: no gap yet
      (5L, 1L, ts("2024-01-01 00:00:10"), "click")   // other type: no gap
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = graft.operators.EventOps.interArrivalStats(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === Map("view" -> ((2L, 4000000L, 3000000L))))
  }

  test("funnel times walk strictly forward per key") {
    val t = graft.operators.EventOps.funnelTimes(
        events, Seq("view", "click", "purchase"),
        withinSeconds = Some(24L * 3600))
      .where($"user_id" === 1L).collect().head
    assert(t.getAs[Timestamp]("t0") === ts("2024-01-01 00:00:00"))
    assert(t.getAs[Timestamp]("t1") === ts("2024-01-01 01:00:00"))
    assert(t.getAs[Timestamp]("t2") === ts("2024-01-01 02:00:00"))
    // user 2: t1 null (window exceeded)
    val u2 = graft.operators.EventOps.funnelTimes(
        events, Seq("view", "click", "purchase"),
        withinSeconds = Some(24L * 3600))
      .where($"user_id" === 2L).collect().head
    assert(u2.isNullAt(u2.fieldIndex("t1")))
  }
}
