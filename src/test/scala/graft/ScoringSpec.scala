package graft

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.functions._

import graft.linkage.{EM, Scoring}

/** Scoring specs: dict-lookup compilation (scratch.R:109-115), missing
  * level → weight 0 (scratch.R:122), thresholding, truth attach,
  * precision bands (scratch.R:128-139).
  */
class ScoringSpec extends SparkSpec {
  import spark.implicits._

  private val em = EM.EMResult(
    mProbabilities = SortedMap("f" -> SortedMap("agree" -> 0.9, "disagree" -> 0.1)),
    uProbabilities = SortedMap("f" -> SortedMap("agree" -> 0.1, "disagree" -> 0.9)),
    lambda = 0.01, totalPairs = 100,
    weights = SortedMap("f" -> SortedMap(
      "agree" -> (math.log(0.9) - math.log(0.1)),
      "disagree" -> (math.log(0.1) - math.log(0.9)))),
    trace = Nil)

  test("dictLookup compiles level→value; unknown level → NULL") {
    val df = Seq("agree", "disagree", "unknown").toDF("f")
    val got = df.select(Scoring.dictLookup("f", Map("agree" -> 0.9, "disagree" -> 0.1)))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(0.9), Some(0.1), None))
  }

  test("weight: log(m/u) summed; NULL level contributes 0 (scratch.R:122)") {
    val df = Seq(
      (1L, 2L, "agree"), (3L, 4L, "disagree"), (5L, 6L, null)
    ).toDF("id_left", "id_right", "f")
    val scored = Scoring.score(df, em).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(math.abs(scored(1L) - math.log(9.0)) < 1e-12)
    assert(math.abs(scored(3L) - math.log(1.0 / 9)) < 1e-12)
    assert(scored(5L) == 0.0)
  }

  test("weight: zero-probability levels stay finite and thresholdable (NCVR-scale bug)") {
    // EM fit over a candidate population legitimately yields u = 0.0
    // for a match-only level (and m = 0.0 for a nonmatch-only one).
    // Spark 4 made both forms of log(m/u) wrong: ANSI m/0 THROWS and
    // ln(0) returns NULL (not -Inf), which silently dropped every
    // full-agreement match from every threshold at the E2E's 150k
    // shape. The 1e-300 floor keeps weights finite and huge.
    val tables = Seq(("f",
      Map("agree" -> 0.97, "disagree" -> 0.0): Map[String, Double],
      Map("agree" -> 0.0, "disagree" -> 0.6): Map[String, Double]))
    val df = Seq((1L, "agree"), (2L, "disagree"), (3L, null)).toDF("id", "f")
    val got = df.withColumn("weight", Scoring.weightExpression(tables))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val uFloorWeight = math.log(0.97) - math.log(1e-300)
    assert(got(1L).exists(w => math.abs(w - uFloorWeight) < 1e-9)) // ≈ +690.7
    assert(got(1L).exists(_ > 600.0) && got(1L).exists(w => !w.isInfinite && !w.isNaN))
    assert(got(2L).exists(_ < -600.0)) // m = 0 → symmetric large negative
    assert(got(3L).contains(0.0))      // NULL level still contributes 0
    // Thresholding keeps the u=0 full-agreement rows (the bug dropped them).
    assert(df.withColumn("weight", Scoring.weightExpression(tables))
      .filter(col("weight") > 0).count() == 1)
  }

  test("weight threshold; attachTruth + precisionByBand") {
    val values = Seq(
      (1L, 2L, "agree"), (1L, 3L, "agree"), (3L, 4L, "disagree")
    ).toDF("id_left", "id_right", "f")
    val scored = Scoring.score(values, em)
    val top = scored.filter(col("weight") > 1.0)
    assert(top.count() == 2) // both "agree" pairs, weight ln 9 ≈ 2.197

    val truth = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L)).toDF("id", "cluster")
    val withTruth = Scoring.attachTruth(top, truth, "id", "cluster")
    val tm = withTruth.collect().map(r => (r.getAs[Long]("id_left"), r.getAs[Long]("id_right"),
      r.getAs[Boolean]("true_match"))).toSet
    assert(tm == Set((1L, 2L, true), (1L, 3L, false)))

    val bands = Scoring.precisionByBand(withTruth).collect()
    assert(bands.length == 1)
    assert(bands.head.getAs[Double]("weight_band") == 2.0)
    assert(math.abs(bands.head.getAs[Double]("precision") - 0.5) < 1e-12)
    assert(bands.head.getAs[Long]("n") == 2L)
  }

  test("precisionByBand: the distributed aggregate's rows, ascending by band, NULL band first") {
    val r = new scala.util.Random(11L)
    val withTruth = (0 until 400).map { i =>
      (i.toLong,
        if (i % 37 == 0) None else Some((r.nextInt(41) - 20) * 0.37 + (if (i % 5 == 0) 0.5 else 0.0)),
        if (i % 53 == 0) None else Some(r.nextBoolean()))
    }.toDF("id", "weight", "true_match")
    // The band table as one sorted distributed query.
    val reference = withTruth
      .withColumn("weight_band", round(col("weight")))
      .groupBy("weight_band")
      .agg(avg(col("true_match").cast("double")).as("precision"), count(lit(1)).as("n"))
      .orderBy("weight_band")
    val got = Scoring.precisionByBand(withTruth)
    assert(got.schema == reference.schema)
    val rows = got.collect().toSeq
    assert(rows == reference.collect().toSeq)
    assert(rows.head.isNullAt(0) && rows.size > 10)
    assert(rows.tail.exists(_.getDouble(0) < 0) && rows.tail.exists(_.getDouble(0) == 0.0))
    // `round` keeps the weight's type: every orderable numeric weight
    // gives the sorted query's rows too.
    for (t <- Seq("float", "int", "long", "decimal(12,3)")) {
      val typed = withTruth.withColumn("weight", col("weight").cast(t))
      val ref = typed
        .withColumn("weight_band", round(col("weight")))
        .groupBy("weight_band")
        .agg(avg(col("true_match").cast("double")).as("precision"), count(lit(1)).as("n"))
        .orderBy("weight_band")
      val typedGot = Scoring.precisionByBand(typed)
      assert(typedGot.schema == ref.schema, t)
      assert(typedGot.collect().toSeq == ref.collect().toSeq, t)
    }
  }

  test("precisionByBand: -0.0 and 0.0 share one band, every NaN is one band, as in groupBy") {
    val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    val withTruth = Seq((-0.2, true), (0.3, false), (Double.NaN, true), (nan2, false), (2.6, true))
      .toDF("weight", "true_match").repartition(3)
    val got = Scoring.precisionByBand(withTruth).collect().toSeq
    assert(got.map(_.getLong(2)) == Seq(2L, 1L, 2L))
    assert(java.lang.Double.doubleToRawLongBits(got.head.getDouble(0)) == 0L) // +0.0
    assert(got.head.getDouble(1) == 0.5)
    assert(got(1).getDouble(0) == 3.0 && got(2).getDouble(0).isNaN)
    val reference = withTruth
      .withColumn("weight_band", round(col("weight")))
      .groupBy("weight_band")
      .agg(avg(col("true_match").cast("double")).as("precision"), count(lit(1)).as("n"))
      .orderBy("weight_band")
    assert(got == reference.collect().toSeq)
  }

  test("calibrate: glm on the LinkageDemo fixture — monotone in weight, AUC > 0.9") {
    import graft.linkage.{Blocking, BlockingRules, Comparators, ComputedKeys, Pairs}
    val people = LinkageDemo.persons(spark, nClusters = 120).cache()
    val data = people.drop("cluster")
    val truth = people.select(col("unique_id"), col("cluster"))
    // First-letter surname blocking keeps full recall on the fixture
    // (typos never touch position 0) while bounding the pair count.
    val ids = Blocking.extractBlocks(data, data, "unique_id", "unique_id",
      BlockingRules(Seq(ComputedKeys(Seq(
        ("s1", substring(col("surname_left"), 1, 1), substring(col("surname_right"), 1, 1)))))))
      .filter(col("unique_id_left") < col("unique_id_right"))
    val pairs = Pairs.computePairsDataset(data, data, "unique_id", "unique_id", ids)
    val comparators = Comparators.exact(Seq("dob")) ++
      Comparators.jaroWinkler(Seq("first_name", "surname"))
    val values = Comparators.doComparisons(pairs, comparators,
      keep = Seq("unique_id_left", "unique_id_right"))
    val jwM = Map("full agreement" -> 0.6, "strong partial agreement" -> 0.25,
      "weak partial agreement" -> 0.1, "no agreement" -> 0.05)
    val jwU = Map("full agreement" -> 0.02, "strong partial agreement" -> 0.05,
      "weak partial agreement" -> 0.08, "no agreement" -> 0.85)
    val tables = Seq(
      ("dob", Map("agree" -> 0.95, "disagree" -> 0.05),
        Map("agree" -> 0.001, "disagree" -> 0.999)),
      ("first_name", jwM, jwU), ("surname", jwM, jwU))
    val scored = values.withColumn("weight", Scoring.weightExpression(tables))
    val ev = Scoring.attachTruth(scored, truth, "unique_id", "cluster")

    val cal = Scoring.calibrate(ev)
    assert(cal.slope > 0, s"calibration slope must be positive, got $cal")

    val rows = ev.select(col("weight"), cal.predict(col("weight")).as("p"), col("true_match"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getBoolean(2)))
    // monotone: predicted probability nondecreasing in weight
    val byWeight = rows.sortBy(_._1)
    assert(byWeight.zip(byWeight.tail).forall { case ((_, p1, _), (_, p2, _)) => p1 <= p2 })
    // AUC of the calibrated probability over true-match labels
    val pos = rows.filter(_._3).map(_._2)
    val neg = rows.filterNot(_._3).map(_._2)
    assert(pos.nonEmpty && neg.nonEmpty)
    var wins = 0.0
    for (p <- pos; q <- neg) wins += (if (p > q) 1.0 else if (p == q) 0.5 else 0.0)
    val auc = wins / (pos.length.toDouble * neg.length)
    assert(auc > 0.9, f"AUC $auc%.4f should exceed 0.9")
  }

  test("calibrate: distinct-weight aggregated fit equals the unaggregated MLE (±1e-6)") {
    import spark.implicits._
    // Non-separated fixture: five distinct weights, label counts from
    // a noisy logistic curve — the likelihood has a unique finite
    // maximizer, so both fits must land on the same point. Expanded to
    // per-pair rows (1000 of them) as calibrate's contract input.
    val perWeight = Seq( // (weight, n, k true)
      (-2.0, 200, 11), (-1.0, 200, 52), (0.0, 200, 97),
      (1.0, 200, 151), (2.0, 200, 189))
    val rows = perWeight.flatMap { case (w, n, k) =>
      Seq.fill(k)((w, true)) ++ Seq.fill(n - k)((w, false))
    }
    val df = rows.toDF("weight", "true_match").repartition(7)
    val agg = Scoring.calibrate(df)
    val full = Scoring.calibrateFull(df)
    assert(!agg.separated && !full.separated,
      s"fixture is mixed per weight — must not flag separation: $agg / $full")
    assert(math.abs(agg.intercept - full.intercept) < 1e-6,
      s"intercepts diverge: $agg vs $full")
    assert(math.abs(agg.slope - full.slope) < 1e-6,
      s"slopes diverge: $agg vs $full")
    // Sanity: the fit tracks the generating curve (slope ~1, intercept ~0).
    assert(agg.slope > 0.8 && agg.slope < 1.3, s"slope off: $agg")
    assert(math.abs(agg.intercept) < 0.3, s"intercept off: $agg")
  }

  test("calibrate: complete separation is detected and flagged (no finite MLE)") {
    import spark.implicits._
    // All true labels strictly above all false labels in weight —
    // the NCVR-scale E2E's shape (precision = recall = 1.0 at the
    // sign boundary). The likelihood has no finite maximizer; the
    // flag is the loud signal that intercept/slope are optimizer
    // stopping points, not estimates.
    val sep = (Seq.fill(50)((-3.0, false)) ++ Seq.fill(20)((-1.0, false)) ++
      Seq.fill(20)((2.0, true)) ++ Seq.fill(50)((4.0, true)))
      .toDF("weight", "true_match")
    val cal = Scoring.calibrate(sep)
    assert(cal.separated, s"must flag separation: $cal")
    assert(cal.slope > 0) // ranking direction still meaningful
    assert(Scoring.calibrateFull(sep).separated)
    // Single-class degenerate inputs flag too.
    val oneClass = Seq.fill(10)((1.0, true)).toDF("weight", "true_match")
    assert(Scoring.calibrate(oneClass).separated)
  }

  test("fitIrls: converges on the ill-conditioned NCVR shape where per-pair L-BFGS stops early") {
    // The measured NCVR-scale sufficient statistics (docs/
    // LINKAGE_E2E_r12.md): 59.15M all-false candidates at the
    // negative weight, 2.03M all-true at the letter-perturbed band,
    // 5.18M at full agreement of which exactly 5 are hash-collision
    // false positives — not separated, finite MLE, but brutal
    // curvature. spark.ml's L-BFGS stopped at (−2.2605, 3.1416) at
    // maxIter=100 on the per-pair form; Newton must land on a point
    // with (a) higher log-likelihood and (b) a locally-maximal
    // neighborhood.
    val stats = Seq(
      (-5.0, 59151557L, 0L),
      (5.0, 2027543L, 2027543L),
      (15.0, 5181552L, 5181547L))
    val fit = Scoring.fitIrls(stats)
    assert(!fit.separated)
    val llFit = Scoring.binomialLogLik(stats, fit)
    val llLbfgs = Scoring.binomialLogLik(stats, Scoring.Calibration(-2.2605, 3.1416))
    assert(llFit > llLbfgs,
      s"Newton ($fit, ll=$llFit) must dominate the L-BFGS stopping point (ll=$llLbfgs)")
    // Local maximality: nudging either coefficient reduces the
    // likelihood (gradient ~ 0 at the fit).
    for (da <- Seq(-1e-4, 1e-4); db <- Seq(-1e-4, 1e-4)) {
      val ll = Scoring.binomialLogLik(stats,
        Scoring.Calibration(fit.intercept + da, fit.slope + db))
      assert(ll <= llFit + 1e-9, s"perturbation ($da,$db) improved ll: $ll > $llFit")
    }
  }

  test("calibrationStats: refuses a continuous per-pair score loudly") {
    import spark.implicits._
    val continuous = (1 to 500).map(i => (i / 500.0, i % 2 == 0))
      .toDF("weight", "true_match")
    val e = intercept[IllegalArgumentException](
      Scoring.calibrationStats(continuous, maxDistinct = 100))
    assert(e.getMessage.contains("calibrateFull") && e.getMessage.contains("Band it"))
    // Bounded tables collect fine, sorted by weight.
    val stats = Scoring.calibrationStats(continuous, maxDistinct = 500)
    assert(stats.size == 500 && stats == stats.sortBy(_._1))
  }
}
