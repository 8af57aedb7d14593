package graft.linkage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scoring: compile fitted m/u tables into a single per-pair weight
  * expression, threshold, rank, and evaluate
  * (reference: scratch.R:106-139).
  *
  * The reference compiles each field's m/u lookup into a `case_when`
  * chain (`dict_lookup_case_when`, scratch.R:109-115) and sums
  * `log(m/u)` across fields with missing fields contributing 0
  * (scratch.R:117-124). The Spark-native equivalent is a folded
  * `when` chain — whole-stage codegen then compiles the entire scoring
  * expression to JVM bytecode, so scoring all pairs is one codegen'd
  * map over the comparison table, no joins, no lookups. For fields
  * with very many levels a broadcast-join lookup would win; for
  * comparator-style fields (≤ a handful of levels) `when` chains are
  * strictly better (SURVEY.md §4).
  */
object Scoring {

  /** `dict_lookup_case_when`: compile level → value into a `when`
    * chain over `col(field)`; unmatched level → NULL
    * (reference: scratch.R:109-115).
    */
  def dictLookup(field: String, dict: Map[String, Double]): Column = {
    val sorted = dict.toSeq.sortBy(_._1)
    val chain = sorted.foldLeft(Option.empty[Column]) { case (acc, (level, v)) =>
      Some(acc.fold(when(col(field) === level, v))(_.when(col(field) === level, v)))
    }
    chain.fold(lit(null).cast("double"))(_.otherwise(lit(null).cast("double")))
  }

  /** Probability floor inside [[weightExpression]]: EM fit over a
    * candidate population can legitimately drive a match-only level's
    * u (or a nonmatch-only level's m) to EXACTLY 0, where the
    * reference's R `log(m/u)` yields ±Inf. Spark 4 diverges twice:
    * ANSI `m/0` THROWS, and `ln(0)` returns NULL (not −Inf) — the
    * NULL silently ate every full-agreement match at the E2E's 150k
    * shape (weight NULL fails every threshold). Flooring both
    * probabilities keeps the weight finite (±~690 per field — still
    * past any threshold) and is an exact pass-through for any real
    * probability (the smallest representable EM output is ≫ 1e-300).
    */
  private val MinProb = 1e-300

  /** Total Fellegi–Sunter weight: Σ over fields of
    * `if (level non-missing) log(m[level]) − log(u[level]) else 0`
    * (reference: scratch.R:117-124), division-free and floored per
    * [[MinProb]]. A level absent from a dict still propagates NULL
    * (the reference's NA). Fields are summed in the given order
    * (left-to-right) so the float result is reproducible.
    */
  def weightExpression(fields: Seq[(String, Map[String, Double], Map[String, Double])]): Column =
    fields.map { case (f, m, u) =>
      val mC = dictLookup(f, m)
      val uC = dictLookup(f, u)
      when(col(f).isNull, 0.0)
        .when(mC.isNull || uC.isNull, lit(null).cast("double"))
        .otherwise(log(greatest(mC, lit(MinProb))) - log(greatest(uC, lit(MinProb))))
    }.reduce(_ + _)

  def weightExpression(em: EM.EMResult): Column =
    weightExpression(em.mProbabilities.keys.toSeq.map(f =>
      (f, em.mProbabilities(f): Map[String, Double], em.uProbabilities(f): Map[String, Double])))

  /** Score a comparison-values table (ids + comparator levels):
    * add `weight` (reference: scratch.R:128-129).
    */
  def score(comparisonValues: DataFrame, em: EM.EMResult): DataFrame =
    comparisonValues.withColumn("weight", weightExpression(em))

  /** Threshold + rank (reference: scratch.R:130,134). */
  def topMatches(scored: DataFrame, threshold: Double = 5.0): DataFrame =
    scored.filter(col("weight") > threshold).orderBy(desc("weight"))

  /** Attach ground-truth cluster labels from both sides and mark true
    * matches (reference: scratch.R:131-133). `truth` has columns
    * (idCol, clusterCol).
    */
  def attachTruth(
      scored: DataFrame,
      truth: DataFrame,
      idCol: String,
      clusterCol: String): DataFrame = {
    val tl = truth.select(col(idCol).as(s"${idCol}_left"), col(clusterCol).as("cluster_left"))
    val tr = truth.select(col(idCol).as(s"${idCol}_right"), col(clusterCol).as("cluster_right"))
    scored
      .join(tl, Seq(s"${idCol}_left"), "left")
      .join(tr, Seq(s"${idCol}_right"), "left")
      .withColumn("true_match", col("cluster_left") === col("cluster_right"))
  }

  /** Precision per rounded weight band — the reference's calibration
    * table (scratch.R:137-139): (weight_band, precision, n), ascending
    * by band, NULL band first.
    *
    * Computed eagerly and returned as a local frame. The table has one
    * row per distinct rounded weight, so it is collected and ordered on
    * the driver instead of by a range-partition sample job and a
    * distributed sort (which would add generated classes to every
    * linkage pass, docs/CODEGEN_CACHE_r17.md). A band arrives as the
    * boxed Java value of the weight's type, whose natural order is
    * Spark's: grouping has already normalized -0.0 and NaN.
    */
  def precisionByBand(withTruth: DataFrame): DataFrame = {
    val bands = withTruth
      .withColumn("weight_band", round(col("weight")))
      .groupBy("weight_band")
      .agg(avg(col("true_match").cast("double")).as("precision"), count(lit(1)).as("n"))
    val byBand = bands.collect().sortBy(r => Option(r.get(0)))(Ordering.Option(
      Ordering.fromLessThan[Any]((x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0)))
    withTruth.sparkSession.createDataFrame(
      java.util.Arrays.asList(byBand: _*), bands.schema)
  }

  /** Fitted logistic calibration weight → P(match): intercept + slope
    * with a closed-form predictor usable as a plain Column (codegen'd
    * sigmoid — no model object needed at scoring time).
    *
    * `separated = true` flags COMPLETE SEPARATION (every true label
    * above every false label in weight order, or only one class
    * present): the binomial MLE then does not exist — the likelihood
    * increases without bound as slope → ∞ — so `intercept`/`slope`
    * are where the optimizer STOPPED (maxIter/tol artifacts), not
    * estimates; two exact-same-MLE implementations can legitimately
    * return different numbers. R's glm prints "fitted probabilities
    * numerically 0 or 1 occurred" here; the monotone ranking in
    * `predict` is still valid, the absolute probabilities are not.
    * A linkage evaluation hitting this is GOOD news (the weight
    * cleanly splits truth) — but calibration output should be read as
    * a step function, not a sigmoid.
    */
  final case class Calibration(intercept: Double, slope: Double,
      separated: Boolean = false) {
    def predict(weight: Column): Column =
      lit(1.0) / (lit(1.0) + exp(-(lit(intercept) + lit(slope) * weight)))
  }

  /** The reference's final evaluation artifact
    * (`glm(true_match ~ weight, binomial)`, scratch.R:137), fit on
    * DISTINCT-WEIGHT AGGREGATES. `weight` is a pure function of the
    * comparison pattern ([[weightExpression]] reads only the
    * comparator level columns), so it takes at most #patterns distinct
    * values no matter how many pairs were scored — and the binomial
    * log-likelihood factorizes over distinct covariate values:
    *
    * {{{
    *   Σ_pairs [y·log p(w) + (1−y)·log(1−p(w))]
    *     = Σ_distinct w [k_w·log p(w) + (n_w − k_w)·log(1−p(w))]
    * }}}
    *
    * so a weighted logistic fit on the `(w, label, frequency)` rows is
    * EXACTLY the same MLE as a fit over every pair. The pair table is
    * touched once, by one `groupBy(weight)` count — the only form that
    * survives 100×: at the NCVR-scale E2E the per-pair `spark.ml` fit
    * was 233.6 s of a 357.5 s pipeline (65%, docs/LINKAGE_E2E_r11.md)
    * for a ≤37-distinct-input computation; 6.6B scored pairs would
    * make it the whole job, while the groupBy stays one shuffle of
    * #patterns-sized partials. The aggregated fit itself is a
    * driver-side Newton/IRLS over the collected sufficient statistics
    * ([[calibrationStats]], boundedness enforced) — see [[fitIrls]]
    * for why second-order beats `spark.ml`'s L-BFGS here. Parity with
    * the unaggregated fit is spec-asserted at ±1e-6 where both
    * converge (ScoringSpec) and printed side-by-side by the E2E.
    */
  def calibrate(withTruth: DataFrame, weightCol: String = "weight",
      truthCol: String = "true_match"): Calibration =
    fitIrls(calibrationStats(withTruth, weightCol, truthCol))

  /** The glm's SUFFICIENT STATISTICS, collected: one `(weight, n,
    * n_true)` row per distinct weight, sorted by weight (so every
    * driver-side float reduction over them is order-pinned). Safe to
    * collect for the same reason [[EM.collectPatterns]] is — row count
    * is bounded by the number of distinct weights (≤ #patterns for
    * pattern-pure weights), not by pair count — and ENFORCED the same
    * way: `take(max + 1)` keeps driver memory O(max) and a breach
    * fails loudly naming the broken contract (a continuous per-pair
    * score is not a Fellegi–Sunter weight; band it or fit it
    * distributed via [[calibrateFull]]).
    */
  def calibrationStats(withTruth: DataFrame, weightCol: String = "weight",
      truthCol: String = "true_match",
      maxDistinct: Int = 100000): Seq[(Double, Long, Long)] = {
    val rows = withTruth
      .filter(col(truthCol).isNotNull && col(weightCol).isNotNull)
      .groupBy(col(weightCol).cast("double").as("__w"))
      .agg(count(lit(1)).as("__n"), sum(col(truthCol).cast("long")).as("__k"))
      .take(maxDistinct + 1)
    require(rows.length <= maxDistinct,
      s"calibrationStats: more than $maxDistinct distinct weights — the " +
        "driver-side calibration contract (distinct weights <= #patterns) " +
        "is broken; the weight column looks like a continuous per-pair " +
        "score, not a pattern-pure Fellegi-Sunter weight. Band it, or use " +
        "calibrateFull for a distributed per-pair fit.")
    rows.map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
  }

  /** Newton/IRLS on the aggregated binomial — the fit that actually
    * CONVERGES where a first-order method cannot: the NCVR-scale E2E's
    * likelihood is brutally ill-conditioned (5 false positives among
    * 5.2M pairs at the top weight), and `spark.ml`'s L-BFGS stops at
    * maxIter=100 on BOTH the per-pair and the weighted-aggregate form
    * — at two DIFFERENT points (measured: (−2.26, 3.14) vs (−0.82,
    * 2.74), docs/LINKAGE_E2E_r12.md), neither the MLE. Newton's exact
    * 2×2 Hessian solve converges quadratically regardless of
    * conditioning, and on ≤ #patterns rows each iteration is driver
    * microseconds — no distributed pass per iteration at all. This is
    * [[EM]]'s architecture applied to the glm: one Spark job for
    * sufficient statistics, pure Scala for the optimization.
    *
    * Step-halving guards the Newton step (accept only non-decreasing
    * log-likelihood); under [[Calibration.separated]] data the walk
    * toward the non-existent MLE is cut at `maxIter` and the flag
    * marks the coefficients as artifacts.
    */
  private[graft] def fitIrls(stats: Seq[(Double, Long, Long)],
      maxIter: Int = 100, tol: Double = 1e-12): Calibration = {
    require(stats.nonEmpty, "calibrate: no rows with non-null weight and truth")
    val totalN = stats.map(_._2).sum.toDouble
    val totalK = stats.map(_._3).sum.toDouble
    // Complete separation: every true strictly above every false (or a
    // single-class input) — the likelihood has no finite maximizer.
    val maxFalse = stats.filter(s => s._3 < s._2).map(_._1).maxOption
    val minTrue = stats.filter(s => s._3 > 0).map(_._1).minOption
    val separated = maxFalse.isEmpty || minTrue.isEmpty || maxFalse.get < minTrue.get

    def logLik(a: Double, b: Double): Double = binomialLogLik(stats, Calibration(a, b))

    var a = math.log((totalK + 0.5) / (totalN - totalK + 0.5))
    var b = 0.0
    var ll = logLik(a, b)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // Gradient and Hessian of the aggregated binomial log-likelihood.
      var g0 = 0.0; var g1 = 0.0
      var h00 = 0.0; var h01 = 0.0; var h11 = 0.0
      stats.foreach { case (w, n, k) =>
        val p = 1.0 / (1.0 + math.exp(-(a + b * w)))
        val r = k - n * p
        val v = n * p * (1.0 - p)
        g0 += r; g1 += r * w
        h00 += v; h01 += v * w; h11 += v * w * w
      }
      val det = h00 * h11 - h01 * h01
      if (det <= 0 || !java.lang.Double.isFinite(det)) { converged = true } // flat: cannot improve
      else {
        var da = (h11 * g0 - h01 * g1) / det
        var db = (h00 * g1 - h01 * g0) / det
        // Step-halving: accept the first step that does not decrease
        // the log-likelihood (Newton can overshoot on ill-conditioned
        // curvature; halving preserves the ascent guarantee).
        var step = 1.0
        var next = logLik(a + da, b + db)
        var halvings = 0
        while (next < ll && halvings < 30) {
          step /= 2; halvings += 1
          next = logLik(a + step * da, b + step * db)
        }
        a += step * da; b += step * db
        converged = math.max(math.abs(step * da), math.abs(step * db)) < tol ||
          (next - ll) < math.abs(ll) * 1e-15 && halvings == 0 && math.abs(g0) + math.abs(g1) < 1e-8
        ll = next
        iter += 1
      }
    }
    Calibration(a, b, separated)
  }

  /** The aggregated binomial log-likelihood of a fitted calibration —
    * the comparison functional for fits of the SAME data (higher is
    * better; the MLE maximizes it). Driver-side over
    * [[calibrationStats]] rows.
    */
  def binomialLogLik(stats: Seq[(Double, Long, Long)], cal: Calibration): Double =
    stats.foldLeft(0.0) { case (acc, (w, n, k)) =>
      val z = cal.intercept + cal.slope * w
      // k·log σ(z) + (n−k)·log σ(−z), stably: log σ(z) = −log1pexp(−z)
      def log1pexp(x: Double) = if (x > 35) x else math.log1p(math.exp(x))
      acc - k * log1pexp(-z) - (n - k) * log1pexp(z)
    }

  /** The unaggregated per-pair form of [[calibrate]] — same MLE,
    * O(pairs) per optimizer pass instead of O(distinct weights).
    * Retained as the parity reference (ScoringSpec asserts agreement
    * at ±1e-6; the E2E's 150k shape prints both); prefer [[calibrate]]
    * everywhere, and especially at scale.
    */
  def calibrateFull(withTruth: DataFrame, weightCol: String = "weight",
      truthCol: String = "true_match"): Calibration = {
    val rows = withTruth
      .filter(col(truthCol).isNotNull && col(weightCol).isNotNull)
      .select(col(weightCol).cast("double").as("__w"),
        col(truthCol).cast("double").as("__label"))
    // Separation diagnosis costs an extra full pass here (vs free on
    // the aggregated path) — acceptable for the parity-reference form.
    val r = rows.agg(
      max(when(col("__label") === 0.0, col("__w"))).as("max_false"),
      min(when(col("__label") === 1.0, col("__w"))).as("min_true")).head()
    val sep = r.isNullAt(0) || r.isNullAt(1) || r.getDouble(0) < r.getDouble(1)
    fitLogistic(rows, weightColName = None, tol = 1e-12).copy(separated = sep)
  }

  /** Shared single-feature logistic fit: `__w` (feature), `__label`
    * (0/1), optional frequency weight column. `spark.ml` L-BFGS,
    * no regularization — the glm(binomial) MLE.
    */
  private def fitLogistic(rows: DataFrame, weightColName: Option[String],
      tol: Double): Calibration = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    val prepared = new VectorAssembler()
      .setInputCols(Array("__w")).setOutputCol("__features")
      .transform(rows)
    val lr = new LogisticRegression()
      .setFeaturesCol("__features").setLabelCol("__label")
      .setMaxIter(100).setRegParam(0.0).setTol(tol)
    weightColName.foreach(lr.setWeightCol)
    val model = lr.fit(prepared)
    Calibration(model.intercept, model.coefficients(0))
  }
}
