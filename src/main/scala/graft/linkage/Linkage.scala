package graft.linkage

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

/** One Fellegi–Sunter linkage pass (PAPER.md §0, steps 1–8), chained
  * from the phase functions. `graft.LinkageE2E`, `graft.LinkageDemo`
  * and `LinkageSpec`'s job budget differ only in its arguments.
  */
object Linkage {

  /** A pass's outputs. `ids` (the candidates) and `scored` (`<id>_left`,
    * `<id>_right`, `weight`, `true_match`) are lazy; `top`, `trueTop` and
    * `bands` cover `weight > threshold`; the calibration is fit on every
    * candidate; `seconds` holds each phase's wall time.
    */
  final case class Result(salts: Int, ids: DataFrame, candidates: Long,
      patterns: Seq[EM.Pattern], em: EM.EMResult, scored: DataFrame,
      top: Long, trueTop: Long, bands: Seq[Row],
      calibration: Scoring.Calibration, seconds: Seq[(String, Double)])

  /** Runs one pass over `a` × `b`, where `id` is unique in each table
    * and `truth` (`id`, `cluster`) holds at most one row per id (a
    * duplicate would count its pairs twice). [[Blocking.recommendSalts]]
    * sizes the salts from `saltKey` (the skew-prone pass's key over the
    * raw tables) at the session's shuffle width; `selfLinkage` keeps
    * each pair of a table linked to itself once.
    *
    * After the salt pre-flight, one `Bridge.countRows` job counts the
    * candidates by (comparator levels, `true_match`), and every other
    * value comes from that table: EM's patterns and `totalPairs` (the
    * candidate count, as [[EM.run]] requires), then, since a weight is a
    * function of the levels, the weights, bands and calibration
    * statistics, projected with the same [[Scoring.weightExpression]]
    * over the table as a local frame (no job, bit for bit the per-pair
    * weight).
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
    val (salts, ids) = timed("blocking") {
      val salts = Blocking.recommendSalts(a, saltKey, b, saltKey,
        targetParallelism = a.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      (salts, Blocking.extractBlocks(a, b, id, id, rules,
        selfLinkage = selfLinkage, hotKeySalts = salts))
    }
    val pairIds = Seq(Suffix.addSuffix(id, "_left"), Suffix.addSuffix(id, "_right"))
    val compared = Scoring.attachTruth(Comparators.doComparisons(
      Pairs.computePairsDataset(a, b, id, id, ids), comparators, keep = pairIds), truth, id, "cluster")
    val levels = comparators.map(_.name)
    val keyed = compared.select((levels :+ "true_match").map(col): _*)
    val counts = timed("patterns")(Bridge.countRows(keyed, 3 * EM.MaxPatterns, EM.patternContract(levels)))
    val patterns = counts.groupMapReduce(_._1.toSeq.init)(_._2)(_ + _).toSeq.map { case (ls, n) =>
      EM.Pattern(levels.zip(ls.map(l => Option(l.asInstanceOf[String]))).toMap, n)
    }
    require(patterns.size <= EM.MaxPatterns, EM.patternContract(levels))
    val candidates = patterns.map(_.n).sum
    val u = timed("uprobs")(UProbs.calculateUProbs(a, b, id, id, comparators, size = uSample))
    val em = timed("em")(EM.run(patterns, totalPairs = candidates.toDouble,
      uProbabilities = u, maxIter = emIterations))
    val (top, trueTop, bands, calibration) = timed("score") {
      val countTable = a.sparkSession.createDataFrame(java.util.Arrays.asList(
        counts.map { case (r, n) => Row.fromSeq(r.toSeq :+ n) }: _*),
        keyed.schema.add("n", LongType, nullable = false))
      val w = col("weight")
      val rows = Scoring.score(countTable, em)
        .select(col("n"), w, round(w), w > threshold, col("true_match").cast("double"))
        .collect().toSeq
      val above = rows.filter(r => !r.isNullAt(3) && r.getBoolean(3))
      (above.map(_.getLong(0)).sum, above.filter(_.get(4) == 1.0).map(_.getLong(0)).sum,
        Scoring.bandRows(above.map(r => (Row(r.get(2), r.get(4)), r.getLong(0)))),
        Scoring.fitIrls(Scoring.weightStats(rows.filter(r => !r.isNullAt(1) && !r.isNullAt(4))
          .map(r => (Row(r.get(1), r.getDouble(4).toLong), r.getLong(0))))))
    }
    val scored = Scoring.score(compared, em).select((pairIds :+ "weight" :+ "true_match").map(col): _*)
    Result(salts, ids, candidates, patterns, em, scored, top, trueTop, bands,
      calibration, seconds.result())
  }
}
