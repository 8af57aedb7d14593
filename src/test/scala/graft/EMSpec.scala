package graft

import graft.linkage.EM
import graft.linkage.EM.Pattern

/** EM numeric tests (SURVEY.md §5.3): golden run on a hand-computable
  * pattern-count table, invariants, and the intended (fixed) u-update
  * vs the reference's buggy value-iteration (R/linking.R:133).
  */
class EMSpec extends SparkSpec {

  private def pat(f: String, level: Option[String], n: Long) =
    Pattern(Map(f -> level), n)

  test("logSumExp: stable and correct (utils.R:33-35)") {
    assert(math.abs(EM.logSumExp(Seq(math.log(2), math.log(3))) - math.log(5)) < 1e-12)
    // would overflow naively:
    assert(math.abs(EM.logSumExp(Seq(1000.0, 1000.0)) - (1000 + math.log(2))) < 1e-12)
    assert(EM.logSumExp(Seq(Double.NegativeInfinity, 0.0)) == 0.0)
  }

  test("collectPatterns: enforces the driver-sized contract loudly") {
    import spark.implicits._
    // A comparator that leaks raw values as "levels" — pattern rows
    // grow with the data, not with Π level counts. The guard must
    // refuse to collect, naming the broken contract.
    val leaky = (1L to 50L).map(i => (s"raw_$i", 1L)).toDF("name_cmp", "n")
    val ex = intercept[IllegalArgumentException] {
      EM.collectPatterns(leaky, maxPatterns = 10)
    }
    assert(ex.getMessage.contains("band"))
    // Bounded tables still collect fine (and exactly at the bound).
    val ok = EM.collectPatterns(leaky, maxPatterns = 50)
    assert(ok.size == 50 && ok.forall(_.n == 1L))
  }

  test("golden 1-field 2-level run matches independent implementation") {
    // patterns: ("a", 10), ("d", 90); total=100; u = {a:0.1, d:0.9};
    // init m = seq(0.1, 0.8, length=2) over sorted levels = {a:0.1, d:0.8}.
    val patterns = Seq(pat("f", Some("a"), 10), pat("f", Some("d"), 90))
    val res = EM.run(patterns, totalPairs = 100.0,
      uProbabilities = Map("f" -> Map("a" -> 0.1, "d" -> 0.9)), maxIter = 2)
    assert(math.abs(res.lambda - 9.000000088888891e-08) < 1e-20)
    assert(math.abs(res.mProbabilities("f")("a") - 0.11111111001371772) < 1e-15)
    assert(math.abs(res.mProbabilities("f")("d") - 0.8888888899862823) < 1e-15)
    assert(math.abs(res.uProbabilities("f")("a") - 0.099999999) < 1e-15)
    assert(math.abs(res.uProbabilities("f")("d") - 0.900000001) < 1e-15)
    assert(math.abs(res.weights("f")("a") - 0.1053605157812858) < 1e-12)
    assert(math.abs(res.weights("f")("d") - -0.01242251987510061) < 1e-12)
  }

  test("invariants: m/u in [0,1], lambda in (0,1), per-field m sums to 1 when no missingness") {
    val patterns = Seq(
      Pattern(Map("x" -> Some("agree"), "y" -> Some("agree")), 50),
      Pattern(Map("x" -> Some("agree"), "y" -> Some("disagree")), 200),
      Pattern(Map("x" -> Some("disagree"), "y" -> Some("agree")), 300),
      Pattern(Map("x" -> Some("disagree"), "y" -> Some("disagree")), 5000))
    val u = Map(
      "x" -> Map("agree" -> 0.05, "disagree" -> 0.95),
      "y" -> Map("agree" -> 0.1, "disagree" -> 0.9))
    val res = EM.run(patterns, totalPairs = 20000.0, uProbabilities = u, maxIter = 10)
    assert(res.lambda > 0 && res.lambda < 1)
    res.mProbabilities.foreach { case (f, ls) =>
      ls.values.foreach(v => assert(v >= 0 && v <= 1, s"m $f $ls"))
      assert(math.abs(ls.values.sum - 1.0) < 1e-9)
    }
    res.uProbabilities.foreach { case (_, ls) =>
      ls.values.foreach(v => assert(v >= 0 && v <= 1))
      assert(math.abs(ls.values.sum - 1.0) < 1e-9)
    }
    assert(res.trace.size == 10)
  }

  test("missing levels excluded from updates; patterns with NULL field still counted elsewhere") {
    val patterns = Seq(
      pat("f", Some("agree"), 10),
      pat("f", Some("disagree"), 80),
      pat("f", None, 10)) // missing: excluded from f's m/u updates (linking.R:128-129)
    val res = EM.run(patterns, totalPairs = 100.0,
      uProbabilities = Map("f" -> Map("agree" -> 0.1, "disagree" -> 0.9)), maxIter = 3)
    // levels discovered exclude NULL:
    assert(res.mProbabilities("f").keySet == Set("agree", "disagree"))
    assert(math.abs(res.mProbabilities("f").values.sum - 1.0) < 1e-9)
  }

  test("u level missing from supplied sample gets the floor, does not crash") {
    val patterns = Seq(pat("f", Some("rare"), 1), pat("f", Some("common"), 99))
    val res = EM.run(patterns, totalPairs = 100.0,
      uProbabilities = Map("f" -> Map("common" -> 1.0)), maxIter = 2, uFloor = 1e-9)
    assert(res.uProbabilities("f").contains("rare"))
  }

  test("separable data drives m toward the matching level (intended u-update, not the reference's positional-indexing bug)") {
    // Strong signal: "agree" patterns rare overall but all matches.
    val patterns = Seq(
      pat("f", Some("agree"), 100),
      pat("f", Some("disagree"), 9900))
    val res = EM.run(patterns, totalPairs = 1e6,
      uProbabilities = Map("f" -> Map("agree" -> 0.01, "disagree" -> 0.99)), maxIter = 20)
    // m(agree) should dominate m(disagree) is not guaranteed with this
    // init; but weights must be finite and ordered: agree > disagree.
    assert(res.weights("f")("agree") > res.weights("f")("disagree"))
  }

  test("totalPairs contract: candidate-count denominator converges at high match share; cross-space denominator collapses lambda (LINKAGE_E2E_r11.md §3)") {
    // Pattern table over BLOCKED CANDIDATES with matches a VISIBLE
    // fraction (~5.7%) — the NCVR-scale shape where the two
    // denominators diverge. Two comparator fields; full agreement is
    // the match signature.
    val patterns = Seq(
      Pattern(Map("x" -> Some("agree"), "y" -> Some("agree")), 600),
      Pattern(Map("x" -> Some("agree"), "y" -> Some("disagree")), 200),
      Pattern(Map("x" -> Some("disagree"), "y" -> Some("agree")), 300),
      Pattern(Map("x" -> Some("disagree"), "y" -> Some("disagree")), 9500))
    val nCandidates = patterns.map(_.n).sum.toDouble // 10600
    val u = Map(
      "x" -> Map("agree" -> 0.05, "disagree" -> 0.95),
      "y" -> Map("agree" -> 0.1, "disagree" -> 0.9))

    // CORRECT: candidate-population denominator. λ converges to the
    // match share among candidates and the full-agreement weight is
    // decisively positive.
    val ok = EM.run(patterns, totalPairs = nCandidates, uProbabilities = u, maxIter = 50)
    assert(ok.lambda > 0.03 && ok.lambda < 0.12,
      s"lambda should read 'match rate among candidates' (~0.057), got ${ok.lambda}")
    val lastTwo = ok.trace.takeRight(2).map(_.lambda)
    assert(math.abs(lastTwo(1) - lastTwo(0)) / lastTwo(1) < 1e-6,
      s"lambda should have converged, trace tail: $lastTwo")
    assert(ok.weights("x")("agree") > 0 && ok.weights("y")("agree") > 0,
      s"agreement must carry positive weight, got ${ok.weights}")

    // BROKEN: the reference's cross-space n²/2 denominator (scratch.R:56)
    // on the same candidate-only pattern table. The prior says
    // "matches are ~1e-5 of pairs" while the table says 5.7%: the
    // u-class absorbs the match class and λ decays geometrically —
    // every iteration's λ strictly below the previous, ending
    // orders of magnitude under even the cross-space truth (600/1e9).
    val crossSpace = 1e9 // e.g. 45k × 45k / 2
    val broken = EM.run(patterns, totalPairs = crossSpace, uProbabilities = u, maxIter = 50)
    val lams = broken.trace.map(_.lambda)
    assert(lams.zip(lams.tail).forall { case (a, b) => b < a },
      s"lambda must decay monotonically under the inconsistent denominator, trace: ${lams.take(5)}...")
    assert(broken.lambda < 1e-12,
      s"lambda should have collapsed far below the 6e-7 cross-space truth, got ${broken.lambda}")
  }

  test("trace records the largest |delta|: a falling m counts") {
    // u = the level frequencies, so the first M-step rescales m to
    // m / sum(m) = (0.074, 0.333, 0.593) from the init (0.1, 0.45, 0.8):
    // every level falls, c by 0.21, so the largest increase (-0.026)
    // is not the largest change.
    val patterns = Seq(pat("f", Some("a"), 200), pat("f", Some("b"), 300), pat("f", Some("c"), 500))
    val u = Map("f" -> Map("a" -> 0.2, "b" -> 0.3, "c" -> 0.5))
    val one = EM.run(patterns, totalPairs = 1000.0, uProbabilities = u, maxIter = 1)
    val init = Map("a" -> 0.1, "b" -> 0.45, "c" -> 0.8)
    val deltas = init.map { case (l, m0) => l -> (one.mProbabilities("f")(l) - m0) }
    assert(deltas.values.forall(_ < 0), s"every m should fall: $deltas")
    assert(math.abs(one.trace.head.maxDeltaM - deltas.values.map(math.abs).max) < 1e-12)
    assert(one.trace.head.maxDeltaM > 0.2)
  }

  /** EM's ascent property: from the first M-step's parameters on, each
    * iteration's observed log-likelihood is at least the previous one's,
    * up to 1e-9 relative. Iteration 1 reads the reference's starting m,
    * `seq(0.1, 0.8)` over the levels, which sums to more than 1 from
    * three levels on: not a distribution, so its "likelihood" can exceed
    * the first fitted one (it does on the three-level fixture below).
    */
  private def assertLogLikNonDecreasing(res: EM.EMResult, what: String): Unit = {
    val lls = res.trace.map(_.logLik)
    assert(lls.forall(ll => !ll.isNaN && ll <= 0), s"$what: $lls")
    val fitted = lls.tail
    fitted.zip(fitted.tail).zipWithIndex.foreach { case ((prev, next), i) =>
      assert(next >= prev - 1e-9 * math.abs(prev),
        s"$what: log-likelihood fell from $prev to $next after iteration ${i + 2}: $lls")
    }
  }

  test("trace: observed log-likelihood of the starting parameters, non-decreasing where totalPairs is the pattern total") {
    // The golden fixture's first E-step by hand: λ₀ = 1e-7, m = {a: 0.1,
    // d: 0.8}, u = {a: 0.1, d: 0.9}.
    val golden = EM.run(Seq(pat("f", Some("a"), 10), pat("f", Some("d"), 90)), totalPairs = 100.0,
      uProbabilities = Map("f" -> Map("a" -> 0.1, "d" -> 0.9)), maxIter = 20)
    val expected = 10 * math.log(1e-7 * 0.1 + (1 - 1e-7) * 0.1) + 90 * math.log(1e-7 * 0.8 + (1 - 1e-7) * 0.9)
    assert(math.abs(golden.trace.head.logLik - expected) <= 1e-12 * math.abs(expected),
      s"${golden.trace.head.logLik} vs $expected")
    assertLogLikNonDecreasing(golden, "golden")

    val twoFields = Seq(
      Pattern(Map("x" -> Some("agree"), "y" -> Some("agree")), 600),
      Pattern(Map("x" -> Some("agree"), "y" -> Some("disagree")), 200),
      Pattern(Map("x" -> Some("disagree"), "y" -> Some("agree")), 300),
      Pattern(Map("x" -> Some("disagree"), "y" -> Some("disagree")), 9500))
    val twoFieldsU = Map(
      "x" -> Map("agree" -> 0.05, "disagree" -> 0.95),
      "y" -> Map("agree" -> 0.1, "disagree" -> 0.9))
    val withMissing = Seq(pat("f", Some("agree"), 10), pat("f", Some("disagree"), 80), pat("f", None, 10))
    val levels = Seq(None, Some("0"), Some("1"), Some("2"))
    val threeFields = for {
      (x, i) <- levels.zipWithIndex
      (y, j) <- levels.zipWithIndex
      z <- Seq(Some("agree"), Some("disagree"))
    } yield Pattern(Map("x" -> x, "y" -> y, "z" -> z),
      1L + (i * 7919L + j * 104729L + (if (z.contains("agree")) 3L else 977L)) % 9973L)
    val threeFieldsU = Map(
      "x" -> Map("0" -> 0.6, "1" -> 0.3, "2" -> 0.1),
      "y" -> Map("0" -> 0.7, "1" -> 0.2, "2" -> 0.1),
      "z" -> Map("agree" -> 0.05, "disagree" -> 0.95))
    val fixtures = Seq(
      ("two fields", twoFields, twoFieldsU),
      ("missing level", withMissing, Map("f" -> Map("agree" -> 0.1, "disagree" -> 0.9))),
      ("u floor", Seq(pat("f", Some("rare"), 1), pat("f", Some("common"), 99)), Map("f" -> Map("common" -> 1.0))),
      ("three levels", Seq(pat("f", Some("a"), 200), pat("f", Some("b"), 300), pat("f", Some("c"), 500)),
        Map("f" -> Map("a" -> 0.2, "b" -> 0.3, "c" -> 0.5))),
      ("three fields", threeFields, threeFieldsU))
    for ((what, patterns, u) <- fixtures)
      assertLogLikNonDecreasing(EM.run(patterns, patterns.map(_.n).sum.toDouble, u, maxIter = 50), what)

    // A whole linkage pass: EM over its candidates' patterns.
    assertLogLikNonDecreasing(LinkageFixtures.benchmarkShaped(spark).run().em, "benchmark-shaped pass")
  }

  test("fit is bit-identical whatever order the patterns arrive in") {
    val levels = Seq(None, Some("0"), Some("1"), Some("2"))
    val patterns = for {
      (x, i) <- levels.zipWithIndex
      (y, j) <- levels.zipWithIndex
      z <- Seq(Some("agree"), Some("disagree"))
    } yield Pattern(Map("x" -> x, "y" -> y, "z" -> z),
      1L + (i * 7919L + j * 104729L + (if (z.contains("agree")) 3L else 977L)) % 9973L)
    val u = Map(
      "x" -> Map("0" -> 0.6, "1" -> 0.3, "2" -> 0.1),
      "y" -> Map("0" -> 0.7, "1" -> 0.2, "2" -> 0.1),
      "z" -> Map("agree" -> 0.05, "disagree" -> 0.95))
    val total = patterns.map(_.n).sum.toDouble
    val fwd = EM.run(patterns, total, u, maxIter = 10)
    assert(EM.run(patterns.reverse, total, u, maxIter = 10) == fwd)
    assert(EM.run(new scala.util.Random(7).shuffle(patterns), total, u, maxIter = 10) == fwd)
  }
}
