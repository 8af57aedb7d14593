package graft.linkage

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.col

/** One Fellegi–Sunter linkage pass (PAPER.md §0, steps 1–8), chained
  * from the phase functions. `graft.LinkageE2E`, `graft.LinkageDemo`
  * and `LinkageSpec`'s job budget differ only in its arguments.
  */
object Linkage {

  /** A pass's outputs. `ids` (the candidates) and `scored` (`<id>_left`,
    * `<id>_right`, `weight`, `true_match`) are local checkpoints; `top`,
    * `trueTop` and `bands` cover `weight > threshold`; the calibration
    * is fit on every candidate; `seconds` holds each phase's wall time.
    */
  final case class Result(salts: Int, ids: DataFrame, candidates: Long,
      patterns: Seq[EM.Pattern], em: EM.EMResult, scored: DataFrame,
      top: Long, trueTop: Long, bands: Seq[Row],
      calibration: Scoring.Calibration, seconds: Seq[(String, Double)])

  /** Runs one pass over `a` × `b`, where `id` is unique in each table.
    * [[Blocking.recommendSalts]] sizes the salts from `saltKey` (the
    * skew-prone pass's key over the raw tables) at the session's
    * shuffle width; `truth` holds (`id`, `cluster`); `selfLinkage`
    * keeps each pair of a table linked to itself once. EM gets the
    * candidate count as `totalPairs`, as [[EM.run]] requires.
    */
  def run(a: DataFrame, b: DataFrame, id: String, rules: BlockingRules,
      saltKey: Column, comparators: Seq[Comparator], truth: DataFrame,
      uSample: Long, emIterations: Int, threshold: Double,
      selfLinkage: Boolean = false): Result = {
    val seconds = Seq.newBuilder[(String, Double)]
    def timed[T](phase: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally seconds += phase -> (System.nanoTime() - t0) / 1e9
    }
    val (salts, ids, candidates) = timed("blocking") {
      val salts = Blocking.recommendSalts(a, saltKey, b, saltKey,
        targetParallelism = a.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      val ids = Blocking.extractBlocks(a, b, id, id, rules,
        selfLinkage = selfLinkage, hotKeySalts = salts).localCheckpoint(true)
      (salts, ids, ids.count())
    }
    val patterns = timed("patterns")(
      EM.collectPatterns(Pairs.patternCounts(a, b, id, id, ids, comparators)))
    val u = timed("uprobs")(UProbs.calculateUProbs(a, b, id, id, comparators, size = uSample))
    val em = timed("em")(EM.run(patterns, totalPairs = candidates.toDouble,
      uProbabilities = u, maxIter = emIterations))
    val pairIds = Seq(Suffix.addSuffix(id, "_left"), Suffix.addSuffix(id, "_right"))
    val scored = timed("score") {
      val values = Comparators.doComparisons(
        Pairs.computePairsDataset(a, b, id, id, ids), comparators, keep = pairIds)
      Scoring.attachTruth(Scoring.score(values, em), truth, id, "cluster")
        .select((pairIds :+ "weight" :+ "true_match").map(col): _*).localCheckpoint(true)
    }
    val (top, trueTop, bands) = timed("eval") {
      val above = scored.filter(col("weight") > threshold)
      (above.count(), above.filter(col("true_match")).count(),
        Scoring.precisionByBand(above).collect().toSeq)
    }
    val calibration = timed("calibrate")(Scoring.calibrate(scored))
    Result(salts, ids, candidates, patterns, em, scored, top, trueTop, bands,
      calibration, seconds.result())
  }
}
