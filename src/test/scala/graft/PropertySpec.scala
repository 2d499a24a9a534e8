package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.engine.Validator
import graft.model.TokenRow
import graft.rules.RuleSet
import graft.sources.TokenTable

/** Property-based invariants (SURVEY.md §5): the engine's verdicts must be
  * functions of the DATA only — never of partitioning, row order, or
  * parallelism — and the violation/pass split must partition the input.
  *
  * Raw ScalaCheck generators driven with fixed seeds (the scalatest bridge
  * isn't in the offline cache); every case is reproducible from its seed.
  */
class PropertySpec extends AnyFunSuite {

  lazy val spark = TestSession.spark
  private def dims = Map("allowed_sources" -> TokenTable.allowedDim(spark))
  private val vocab = 100
  private def ruleSet = RuleSet.default(vocab)

  private val genRow: Gen[TokenRow] = for {
    id <- Gen.chooseNum(0, 30) // small id space → natural duplicates
    src <- Gen.oneOf("A", "N", "R", "bogus")
    n <- Gen.chooseNum(0, 6)
    declared <- Gen.oneOf(n, n + 1) // sometimes inconsistent
    toks <- Gen.option(Gen.listOfN(n, Gen.chooseNum(-1, vocab + 3)))
  } yield TokenRow(s"d$id", toks.map(_.toArray).orNull, declared, src)

  private val genRows: Gen[List[TokenRow]] =
    Gen.chooseNum(1, 40).flatMap(Gen.listOfN(_, genRow))

  private def cases(n: Int): Seq[(List[TokenRow], Long)] =
    (1 to n).map(i =>
      genRows.pureApply(Gen.Parameters.default, Seed(1000L + i)) -> (1000L + i))

  private def violationSet(
      rows: Seq[TokenRow], parts: Int): Set[(String, String, String)] = {
    val s = spark
    import s.implicits._
    val df = s.createDataset(rows).toDF().repartition(parts)
    Validator.canonical(Validator.violations(df, ruleSet, dims))
      .as[(String, String, String)].collect().toSet
  }

  test("violations are invariant under row order and partition count") {
    cases(8).foreach { case (rows, seed) =>
      val base = violationSet(rows, 1)
      assert(violationSet(rows.reverse, 7) === base, s"seed=$seed reversed")
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      assert(violationSet(shuffled, 3) === base, s"seed=$seed shuffled")
    }
  }

  test("length rule fires iff size(tokens) != n_tok, on non-null tokens") {
    cases(8).foreach { case (rows, seed) =>
      val got = violationSet(rows, 4)
        .collect { case (d, "len_consistency", _) => d }
      val expected = rows.filter(r =>
        r.tokens != null && r.tokens.length != r.n_tok).map(_.doc_id).toSet
      assert(got === expected, s"seed=$seed")
    }
  }

  test("per-source summary: pass ⇔ zero violations, n_rows partitions input") {
    val s = spark
    import s.implicits._
    cases(6).foreach { case (rows, seed) =>
      val df = s.createDataset(rows).toDF().repartition(5)
      val v = Validator.violations(df, ruleSet, dims)
      val summary = Validator.summary(df, v).collect()
      assert(summary.map(_.getLong(1)).sum === rows.size, s"seed=$seed")
      summary.foreach { r =>
        assert(r.getBoolean(3) === (r.getLong(2) == 0), s"seed=$seed")
      }
    }
  }

  test("dedup counts sum to the violation count, per rule") {
    val s = spark
    import s.implicits._
    cases(6).foreach { case (rows, seed) =>
      val df = s.createDataset(rows).toDF().repartition(3)
      val v = Validator.violations(df, ruleSet, dims)
      val byRuleDedup = Validator.dedupIssues(v)
        .groupBy("rule_id").agg(sum("cnt").as("n"))
        .as[(String, Long)].collect().toMap
      val byRule = v.groupBy("rule_id").count()
        .as[(String, Long)].collect().toMap
      assert(byRuleDedup === byRule, s"seed=$seed")
    }
  }

  test("generalize is idempotent") {
    val s = spark
    import s.implicits._
    val genStr = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.const("x[3] 'abc' y[12]"), Gen.const("'a'='b'")))
    (1 to 6).foreach { i =>
      val strs = genStr.pureApply(Gen.Parameters.default, Seed(77L + i))
      if (strs.nonEmpty) {
        val df = strs.toDF("detail")
        val once = df.select(Validator.generalize(col("detail")).as("g"))
        val twice = once.select(Validator.generalize(col("g")).as("g"))
        assert(once.as[String].collect().toSeq ===
          twice.as[String].collect().toSeq, s"case=$i")
      }
    }
  }

  test("salted uniqueness equals unsalted, even for byte-identical hot keys") {
    val s = spark
    import s.implicits._
    // the classic exact-dup skew case: one hot key whose duplicate rows are
    // byte-identical — a payload-only salt collapses them into one bucket
    val hot = Seq.fill(400)(TokenRow("hot", Array(1, 2, 3), 3, "A"))
    val rest = (1 to 50).map(i => TokenRow(s"d$i", Array(i), 1, "N"))
    val df = s.createDataset(hot ++ rest).toDF().repartition(8)
    val rule = graft.rules.UniqueRule("unique_doc_id", "doc_id",
      severity = "warning")
    val unsalted = Validator.uniqueViolations(df, rule)
      .as[(String, String, String, String, String)].collect().toSet
    val salted = SaltedUniqueness.violations(df, rule, nSalt = 16)
      .as[(String, String, String, String, String)].collect().toSet
    assert(salted === unsalted)
    assert(salted.exists(_._1 == "hot"))
    // the salt must actually spread the byte-identical hot key: the
    // partition-id term guarantees > 1 distinct salt across 8 partitions
    val spread = df.where(col("doc_id") === "hot")
      .select(pmod(hash(col("n_tok"), col("source"), col("tokens"),
        spark_partition_id()), lit(16)).as("salt"))
      .distinct().count()
    assert(spread > 1, s"hot key landed on $spread salt bucket(s)")
  }

  test("cluster routing compiler equals gated dispatch on random configs") {
    // equivalence fuzz for the routed Validator.violations: random rule-set
    // families — a few shapes (signature clusters), each instantiated by
    // several sets with fresh range bounds — over random routings and
    // random token tables must produce EXACTLY the rows of source-gated
    // per-slice dispatch, the definition of routing (RoutingReference).
    // Every case reproducible from its seed.
    import graft.rules._
    val s = spark
    import s.implicits._
    val sources = (0 until 8).map(i => s"s$i")

    def shapeRule(kind: Int, seedBase: Long, setIdx: Int): Rule = kind match {
      case 0 => NotNullRule("nn", "tokens", severity = "fatal")
      case 1 => LengthConsistencyRule("lc", "tokens", "n_tok")
      case 2 =>
        // bounds vary per SET (parameterized within the cluster)
        val lo = ((seedBase + setIdx) % 3).toInt
        val hi = 4 + ((seedBase + 2 * setIdx) % 5).toInt
        RangeRule("rng", "n_tok", lo, hi, severity = "warning")
      case 3 => TokenBoundsRule("tb", "tokens", 0, vocab)
      case 4 => UniqueRule("uq", "doc_id", severity = "warning")
      case 5 => ReferentialRule("rf", "source", "allowed_sources")
      case _ =>
        // composite key: its extra column must survive the routed aggregate
        UniqueRule("uqc", "doc_id", severity = "warning",
          moreColumns = Seq("n_tok"))
    }

    val genShape: Gen[List[Int]] = for {
      n <- Gen.chooseNum(1, 4)
      kinds <- Gen.pick(n, 0 to 6)
    } yield kinds.toList.sorted

    val genConfig: Gen[(Int, List[List[Int]], Map[String, Int])] = for {
      nShapes <- Gen.chooseNum(1, 3)
      shapes <- Gen.listOfN(nShapes, genShape)
      nSets <- Gen.chooseNum(2, 8)
      routed <- Gen.sequence[List[Option[Int]], Option[Int]](
        sources.toList.map(_ => Gen.option(Gen.chooseNum(0, nSets - 1))))
    } yield (nSets, shapes,
      sources.zip(routed).collect { case (src, Some(x)) => src -> x }.toMap)

    val genTokRow: Gen[TokenRow] = for {
      id <- Gen.chooseNum(0, 25)
      src <- Gen.oneOf(sources)
      n <- Gen.chooseNum(0, 6)
      declared <- Gen.oneOf(n, n + 1)
      toks <- Gen.option(Gen.listOfN(n, Gen.chooseNum(-1, vocab + 3)))
    } yield TokenRow(s"d$id", toks.map(_.toArray).orNull, declared, src)

    (1 to 6).foreach { i =>
      val seed = 7000L + i
      val (nSets, shapes, routeIdx) =
        genConfig.pureApply(Gen.Parameters.default, Seed(seed))
      val rows = Gen.chooseNum(5, 40).flatMap(Gen.listOfN(_, genTokRow))
        .pureApply(Gen.Parameters.default, Seed(seed * 31))
      val sets = (0 until nSets).map { si =>
        val shape = shapes(si % shapes.length)
        s"p$si" -> RuleSet(s"p$si", shape.map(k => shapeRule(k, seed, si)))
      }.toMap + ("dflt" -> RuleSet("dflt",
        Seq(NotNullRule("nn_src", "source", severity = "fatal"))))
      val routing = RuleSetLoader.Routing(
        sets, routeIdx.map { case (src, si) => src -> s"p$si" }, "dflt")
      val df = s.createDataset(rows).toDF().repartition(3)
      def rowSet(v: org.apache.spark.sql.DataFrame) =
        v.select("doc_id", "rule_id", "detail", "severity", "source")
          .collect().map(r => (r.getString(0), r.getString(1),
            r.getString(2), r.getString(3), r.getString(4))).toSet
      val got = rowSet(Validator.violations(df, routing, dims))
      val want = rowSet(RoutingReference.violations(df, routing, dims))
      assert(got === want, s"seed=$seed config=($nSets, $shapes, $routeIdx)")
    }
  }

  test("KLL median within rank-error bound of exact, any partitioning") {
    val s = spark
    import s.implicits._
    Seq((50, 2), (173, 3), (400, 8), (311, 5)).foreach { case (n, parts) =>
      val xs = Seq.tabulate(n)(i => ((i * 2654435761L) % 1000).toDouble)
      val df = xs.toDF("x").repartition(parts)
      val approx = df.agg(graft.engine.Drift
          .sketchQuantiles(col("x"), 200, Seq(0.5)))
        .first().getSeq[Double](0).head
      val sorted = xs.sorted
      val rank = sorted.count(_ <= approx)
      assert(math.abs(rank - n / 2.0) <= math.max(3.0, 0.05 * n),
        s"n=$n parts=$parts")
    }
  }
}
