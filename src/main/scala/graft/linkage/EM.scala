package graft.linkage

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.DataFrame

/** Driver-side Fellegi–Sunter EM over the pattern-count table
  * (reference: `run_em`, R/linking.R:78-156).
  *
  * The pattern-count table is tiny by construction (≤ ∏ field levels
  * rows — pattern aggregation at scratch.R:51-54 is what makes this
  * driver-local loop correct at 100 TB: one Spark job produces the
  * counts, pure Scala fits the parameters, a second Spark job applies
  * the compiled weights).
  *
  * Semantics preserved from the reference:
  *   - levels discovered from the data, per field, sorted ascending,
  *     missing (NULL) excluded (R/linking.R:82-86; R `sort` drops NA);
  *   - m init `seq(0.1, 0.8, length = #levels)` over the sorted levels
  *     (R/linking.R:87-88); u must be supplied (from
  *     [[UProbs.calculateUProbs]]); λ₀ = 1e-7 (R/linking.R:94);
  *   - E-step: per pattern, log P(pattern|M) = Σ_fields log m[level]
  *     with missing fields contributing 0 (R/linking.R:101-110);
  *     prob_est via log-sum-exp (R/linking.R:111-116, utils.R:33-35);
  *   - M-step: λ ← Σ n·p / total_pairs; per field, over patterns where
  *     that field is non-missing, m[l] ← Σ n·1[level=l]·p / Σ n·p and
  *     u[l] ← Σ n·1[level=l]·(1−p) / Σ n·(1−p) (R/linking.R:120-136);
  *   - fixed `maxiter`, no convergence test; per-iteration max-delta
  *     trace (R/linking.R:137-140), recorded as the largest |Δ|;
  *   - weights = log(m) − log(u) per field/level (R/linking.R:151).
  *
  * Intentional divergences from the reference (documented, SURVEY.md §3):
  *   - the reference's u-update loop iterates over u *values* instead
  *     of level names (R/linking.R:133, `for (l in u_probabilities[[name]])`)
  *     — fractional positional indexing, a plain bug. We iterate level
  *     names, symmetric with the m-update and per the Fellegi–Sunter
  *     literature.
  *   - the reference computes log(1−λ) once, before the loop
  *     (R/linking.R:95-96) and never refreshes it after updating λ; we
  *     recompute it each iteration (the intended E-step denominator —
  *     numerically negligible while λ stays small, but correct).
  */
object EM {

  /** One distinct comparison vector: field → level (None = missing). */
  final case class Pattern(levels: Map[String, Option[String]], n: Long)

  final case class EMTrace(iteration: Int, maxDeltaM: Double, maxDeltaU: Double, lambda: Double)

  final case class EMResult(
      mProbabilities: SortedMap[String, SortedMap[String, Double]],
      uProbabilities: SortedMap[String, SortedMap[String, Double]],
      lambda: Double,
      totalPairs: Double,
      weights: SortedMap[String, SortedMap[String, Double]],
      trace: Seq[EMTrace])

  /** log(Σ exp(xᵢ)) computed stably: max + log Σ exp(x − max)
    * (reference: R/utils.R:33-35).
    */
  def logSumExp(xs: Seq[Double]): Double = {
    val m = xs.max
    if (m.isNegInfinity) Double.NegativeInfinity
    else m + math.log(xs.map(x => math.exp(x - m)).sum)
  }

  /** Collect a [[Pairs.patternCounts]] result into driver-side patterns.
    * Safe to collect ONLY because row count is bounded by the product
    * of per-field level counts, not by pair count — and that contract
    * is ENFORCED here, not assumed: a comparator family that leaks
    * high-cardinality levels (raw strings instead of banded levels, a
    * continuous score column) would otherwise silently collect a
    * corpus-sized table onto the driver. One action does both the guard
    * and the collect: `take(max + 1)` pulls at most max+1 rows onto the
    * driver (driver memory stays O(max) regardless of table size) and
    * runs the upstream aggregation — the expensive blocking join +
    * comparison projection — exactly once. A row count above the bound
    * fails loudly with the fix (band the comparator) in the message.
    */
  def collectPatterns(patternCounts: DataFrame,
      maxPatterns: Int = 100000): Seq[Pattern] = {
    val fields = patternCounts.columns.filterNot(_ == "n").toSeq
    val rows = patternCounts.take(maxPatterns + 1)
    require(rows.length <= maxPatterns,
      s"collectPatterns: pattern-count table exceeds $maxPatterns rows — " +
        s"the driver-side EM contract (rows <= product of per-field level " +
        s"counts, fields = ${fields.mkString(",")}) is broken. A comparator " +
        "is emitting high-cardinality levels (raw values instead of a " +
        "small banded set); band it before running EM.")
    rows.toSeq.map { row =>
      Pattern(
        fields.map(f => f -> Option(row.getAs[String](f))).toMap,
        row.getAs[Long]("n"))
    }
  }

  /** Fit the two-class mixture.
    *
    * `totalPairs` is the M-step's λ denominator and MUST be the size
    * of the population the pattern table actually covers:
    *   - pattern counts over BLOCKED CANDIDATES (the normal pipeline,
    *     [[Pairs.patternCounts]] over `extractBlocks` output) →
    *     pass the CANDIDATE COUNT. λ then reads "match rate among
    *     candidates", self-consistent at every scale.
    *   - pattern counts over the FULL CROSS SPACE (only feasible for
    *     tiny demos) → pass n_A·n_B (or n(n−1)/2 for self-linkage).
    *
    * Mixing the two — candidate-only patterns with a cross-space
    * denominator, the reference's `total_pairs = n²/2` (scratch.R:56,
    * whose own comment flags underflow) — makes the mixture
    * inconsistent as soon as matches are a visible fraction of
    * candidates: the prior says "matches are ~1e-7 of pairs" while
    * the table says percent-scale, the u-class absorbs the match
    * class, and λ decays geometrically toward 0 with every weight
    * driven negative. Measured at the NCVR-scale E2E (127.8M
    * candidates, ~5.6% matches): λ ×1e-5 per iteration to 1e-125
    * under the cross-space denominator, clean convergence under the
    * candidate count (docs/LINKAGE_E2E_r11.md §3). Harmless only
    * while matches are a vanishing share of candidates (the 150k
    * shape's 0.1%). EMSpec ("totalPairs contract") pins both
    * behaviors.
    */
  def run(
      patterns: Seq[Pattern],
      totalPairs: Double,
      uProbabilities: Map[String, Map[String, Double]],
      maxIter: Int = 10,
      uFloor: Double = 1e-9): EMResult = {
    require(patterns.nonEmpty, "empty pattern-count table")
    val fields: Seq[String] =
      patterns.head.levels.keys.toSeq.sorted

    // The M-step's floating-point sums run in pattern order, and the
    // aggregate behind collectPatterns does not pin its row order; sort
    // by level tuple (NULL first) so a fit is bit-reproducible.
    import scala.math.Ordering.Implicits.seqOrdering
    val patternCounts = patterns.sortBy(p => (fields.map(p.levels), p.n))

    // Levels from the data, sorted, NULL excluded (R/linking.R:82-86).
    val levels: Map[String, Seq[String]] = fields.map { f =>
      f -> patternCounts.flatMap(_.levels(f)).distinct.sorted
    }.toMap

    // A level seen in the pattern data but absent from the sampled
    // u-probabilities (possible for rare levels at small sample sizes;
    // the reference would propagate NA here) gets a small floor instead
    // of crashing the log.
    def withFloor(us: Map[String, Map[String, Double]]): Map[String, Map[String, Double]] =
      fields.map { f =>
        f -> levels(f).map(l => l -> us.getOrElse(f, Map.empty).getOrElse(l, uFloor)).toMap
      }.toMap

    // m init: seq(0.1, 0.8, length = #levels) (R/linking.R:87-88).
    var m: Map[String, Map[String, Double]] = fields.map { f =>
      val ls = levels(f)
      val step = if (ls.size <= 1) 0.0 else 0.7 / (ls.size - 1)
      f -> ls.zipWithIndex.map { case (l, i) => l -> (0.1 + i * step) }.toMap
    }.toMap
    var u: Map[String, Map[String, Double]] = withFloor(uProbabilities)

    var lambda = 1e-7
    val trace = Seq.newBuilder[EMTrace]

    for (i <- 1 to maxIter) {
      val logLambda = math.log(lambda)
      val logOneMinusLambda = math.log1p(-lambda)

      // E-step: P(match | pattern) per distinct pattern.
      val probEst: Seq[Double] = patternCounts.map { p =>
        var llM = 0.0
        var llU = 0.0
        fields.foreach { f =>
          p.levels(f).foreach { l =>
            llM += math.log(m(f)(l))
            llU += math.log(u(f)(l))
          }
        }
        val a = logLambda + llM
        val b = logOneMinusLambda + llU
        math.exp(a - logSumExp(Seq(a, b)))
      }

      // M-step.
      val expectedMatches =
        patternCounts.zip(probEst).map { case (p, pe) => p.n * pe }.sum
      val newLambda = expectedMatches / totalPairs

      val (newM, newU) = {
        val mb = Map.newBuilder[String, Map[String, Double]]
        val ub = Map.newBuilder[String, Map[String, Double]]
        fields.foreach { f =>
          val nonMissing = patternCounts.zip(probEst).filter(_._1.levels(f).isDefined)
          val denomM = nonMissing.map { case (p, pe) => p.n * pe }.sum
          val denomU = nonMissing.map { case (p, pe) => p.n * (1 - pe) }.sum
          mb += f -> levels(f).map { l =>
            l -> nonMissing.collect {
              case (p, pe) if p.levels(f).contains(l) => p.n * pe
            }.sum / denomM
          }.toMap
          ub += f -> levels(f).map { l =>
            l -> nonMissing.collect {
              case (p, pe) if p.levels(f).contains(l) => p.n * (1 - pe)
            }.sum / denomU
          }.toMap
        }
        (mb.result(), ub.result())
      }

      // Largest |new − old| over all levels: a falling parameter counts.
      def maxDelta(a: Map[String, Map[String, Double]], b: Map[String, Map[String, Double]]): Double =
        a.flatMap { case (f, ls) =>
          ls.flatMap { case (l, v) => b(f).get(l).map(old => math.abs(v - old)) }
        }.foldLeft(0.0)(math.max)

      trace += EMTrace(i, maxDelta(newM, m), maxDelta(newU, u), newLambda)
      m = newM
      u = newU
      lambda = newLambda
    }

    def sorted(x: Map[String, Map[String, Double]]): SortedMap[String, SortedMap[String, Double]] =
      SortedMap.from(x.view.mapValues(SortedMap.from(_)))

    val ms = sorted(m)
    val us = sorted(u)
    val weights = SortedMap.from(ms.map { case (f, ls) =>
      f -> SortedMap.from(ls.map { case (l, mv) => l -> (math.log(mv) - math.log(us(f)(l))) })
    })
    EMResult(ms, us, lambda, totalPairs, weights, trace.result())
  }
}
