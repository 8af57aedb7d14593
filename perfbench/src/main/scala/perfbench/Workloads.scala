package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.linkage._

/** A closed-loop workload: inputs built once per set-up, then passes of
  * operations run one after another by one client.
  */
trait Workload {
  /** Builds the inputs; part of set-up, repeated once per set-up. */
  def prepare(spark: SparkSession): Unit

  /** One pass of the workload's operations. */
  def run(spark: SparkSession, pass: Pass): Unit

  /** Counts that describe the last pass (the `linkage.*` counts). */
  def counts: Map[String, Double] = Map.empty

  /** Extra counts that need their own jobs; run untimed, traced runs only. */
  def traceCounts(spark: SparkSession): Map[String, Double] = Map.empty

  def stopOnFailure: Boolean = false

  /** Latencies a user of the workload sees in one pass. */
  def latencies(pass: Pass, wallS: Double): Seq[Double] = pass.latencies.map(_._2).toSeq
}

/** Registry queries from `graft.SparkEntry.queries`, in an order permuted
  * per pass by the seed. Each operation is the registry call (the
  * `construct` span) followed by [[Digest.of]] (the `action` span),
  * checked against the stored digest.
  */
final class QueryMix(queries: Seq[String], dataDir: String, seed: Long,
    expected: Map[String, String]) extends Workload {
  val digests = scala.collection.mutable.LinkedHashMap[String, String]()

  def prepare(spark: SparkSession): Unit =
    queries.foreach(q => require(graft.SparkEntry.queries.contains(q), s"unknown query $q"))

  def run(spark: SparkSession, pass: Pass): Unit =
    new scala.util.Random(seed * 7919 + pass.index).shuffle(queries).foreach { q =>
      pass.op(s"q.$q") {
        val df = pass.part(Tracer.Construct)(graft.SparkEntry.queries(q)(spark, dataDir))
        val d = pass.part(Tracer.Action)(Digest.of(df))
        digests(q) = d
        val e = expected.getOrElse(q, "none stored")
        pass.check(d == e, s"digest $d, expected $e")
      }
    }
}

/** The paper's two-table Fellegi–Sunter pipeline at `repl`× the base
  * customer table, with `graft.LinkageE2E.tableA`/`tableB` as the
  * generators.
  *
  * The phases are a copy of `graft.LinkageE2E.main`'s pipeline (salt
  * pre-flight, blocking rules, comparators, truth table, precision and
  * recall), split at the phase boundaries so that each can be timed:
  * `LinkageE2E` exposes only its generators. A change to that pipeline
  * has to be made here too.
  *
  * The seed re-keys the base table before generation (customer keys move
  * by `salt` million), which re-salts every hash the generators derive
  * from the record id: the names, the balance offsets and the
  * perturbations of table B. It also moves the u-sample seed. Salt 0 is
  * the engine's own fixture.
  */
final class Linkage(baseDir: String, workDir: String, repl: Int, seed: Long,
    expectedCandidates: Option[Long], perfectMatch: Boolean) extends Workload {
  import Linkage._

  private val salt = Math.floorMod(seed, 997L)
  private val uSeed = 42L + seed

  private var a: DataFrame = _
  private var b: DataFrame = _
  private var truth: DataFrame = _
  private var nA = 0L
  private var nB = 0L
  private var last = Map.empty[String, Double]
  /** The EM trace of the last pass: iteration and largest m change. */
  var emTrace = ""

  override def stopOnFailure: Boolean = true

  /** A linkage user waits for the whole pipeline, not for one phase. */
  override def latencies(pass: Pass, wallS: Double): Seq[Double] = Seq(wallS)

  def prepare(spark: SparkSession): Unit = {
    val dir = s"$workDir/linkage_base_$salt"
    spark.read.parquet(s"$baseDir/customer.parquet")
      .withColumn("c_custkey", col("c_custkey") + salt * 1000000L)
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    a = graft.LinkageE2E.tableA(spark, dir, repl).localCheckpoint(true)
    b = graft.LinkageE2E.tableB(a).localCheckpoint(true)
    nA = a.count()
    nB = b.count()
    truth = a.select(col("rec_id"), col("rec_id").as("cluster"))
      .union(b.select(col("rec_id"), (col("rec_id") - 1000000000L).as("cluster")))
  }

  def run(spark: SparkSession, pass: Pass): Unit = {
    var ids: DataFrame = null
    var nCand = 0L
    var patterns: Seq[EM.Pattern] = Nil
    var u: Map[String, Map[String, Double]] = null
    var em: EM.EMResult = null
    var scored: DataFrame = null

    pass.op("linkage.blocking") {
      // The pre-flight skew check `graft.LinkageE2E` runs on the coarser
      // second key before the join: it runs its own jobs.
      val salts = pass.part(Tracer.Action)(Blocking.recommendSalts(
        a, struct(col("nationkey"), balKey(col("acctbal")).as("b")),
        b, struct(col("nationkey"), balKey(col("acctbal")).as("b")),
        targetParallelism = Main.Cores))
      val lazyIds = pass.part(Tracer.Construct)(
        Blocking.extractBlocks(a, b, "rec_id", "rec_id", rules, hotKeySalts = salts))
      pass.part(Tracer.Action) {
        ids = lazyIds.localCheckpoint(true)
        nCand = ids.count()
      }
      expectedCandidates.foreach(e => pass.check(nCand == e, s"$nCand candidates, expected $e"))
    }
    pass.op("linkage.patterns") {
      val counts = pass.part(Tracer.Construct)(
        Pairs.patternCounts(a, b, "rec_id", "rec_id", ids, comparators))
      patterns = pass.part(Tracer.Action)(EM.collectPatterns(counts))
      val total = patterns.map(_.n).sum
      pass.check(total == nCand, s"pattern counts sum to $total, not $nCand candidates")
    }
    pass.op("linkage.uprobs") {
      u = pass.part(Tracer.Action)(
        UProbs.calculateUProbs(a, b, "rec_id", "rec_id", comparators, size = USample, seed = uSeed))
    }
    pass.op("linkage.em") {
      em = EM.run(patterns, totalPairs = nCand.toDouble, uProbabilities = u, maxIter = EmMaxIter)
    }
    pass.op("linkage.score") {
      val lazyScored = pass.part(Tracer.Construct) {
        val values = Comparators.doComparisons(
          Pairs.computePairsDataset(a, b, "rec_id", "rec_id", ids), comparators,
          keep = Seq("rec_id_left", "rec_id_right"))
        Scoring.attachTruth(Scoring.score(values, em), truth, "rec_id", "cluster")
          .select("rec_id_left", "rec_id_right", "weight", "true_match")
      }
      scored = pass.part(Tracer.Action)(lazyScored.localCheckpoint(true))
    }
    var precision = 0.0
    var recall = 0.0
    pass.op("linkage.eval") {
      pass.part(Tracer.Action) {
        val top = scored.filter(col("weight") > 0.0)
        val nTop = top.count()
        val nTrueTop = top.filter(col("true_match")).count()
        Scoring.precisionByBand(top).collect()
        precision = nTrueTop.toDouble / nTop
        recall = nTrueTop.toDouble / nB // every B row has exactly one true A partner
      }
      pass.check(!perfectMatch || (precision == 1.0 && recall == 1.0),
        f"precision $precision%.6f recall $recall%.6f at weight > 0, expected 1 and 1")
    }
    pass.op("linkage.calibrate") {
      pass.part(Tracer.Action)(Scoring.calibrate(scored))
    }
    if (em != null) {
      val fin = em.trace.last
      val finalDelta = math.max(math.abs(fin.maxDeltaM), math.abs(fin.maxDeltaU))
      last = Map(
        "linkage.blocking.candidates" -> nCand.toDouble,
        "linkage.patterns.distinct" -> patterns.size.toDouble,
        "linkage.em.final_delta" -> finalDelta,
        "linkage.em.converged" -> (if (finalDelta < EmTolerance) 1.0 else 0.0),
        "linkage.eval.precision" -> precision,
        "linkage.eval.recall" -> recall,
        "linkage.inputs.a_rows" -> nA.toDouble,
        "linkage.inputs.b_rows" -> nB.toDouble)
      emTrace = em.trace.map(t => f"${t.iteration}:${t.maxDeltaM}%.2e").mkString(" ")
    }
  }

  override def counts: Map[String, Double] = last

  /** `keep_ratio`: union-dedup output over the sum of the per-pass pairs,
    * each blocking pass run on its own.
    */
  override def traceCounts(spark: SparkSession): Map[String, Double] = {
    val perPass = rules.passes.map(p =>
      Blocking.extractBlocks(a, b, "rec_id", "rec_id", BlockingRules(Seq(p))).count())
    val union = Blocking.extractBlocks(a, b, "rec_id", "rec_id", rules).count()
    Map("linkage.blocking.keep_ratio" -> union.toDouble / perPass.sum)
  }
}

object Linkage {
  val USample = 500000L
  val EmMaxIter = 25
  /** The benchmark's own convergence threshold: `EM.run` has no stopping
    * rule and always runs `maxIter` iterations, so `converged` reports
    * whether its last step moved no m or u by this much.
    */
  val EmTolerance = 1e-6
  val Phases = Seq("blocking", "patterns", "uprobs", "em", "score", "eval", "calibrate")

  /** The balance band of the second blocking key. */
  def balKey(c: Column): Column = floor(c / 10)

  /** `graft.LinkageE2E`'s blocking at its default scale: a 5-letter name
    * prefix, and nation × `floor(acctbal / 10)`.
    */
  val rules = BlockingRules(Seq(
    ComputedKeys(Seq(
      ("name_pfx", substring(col("name_left"), 1, 5), substring(col("name_right"), 1, 5)))),
    ComputedKeys(Seq(
      ("nk", col("nationkey_left"), col("nationkey_right")),
      ("bal10", balKey(col("acctbal_left")), balKey(col("acctbal_right")))))))

  val comparators: Seq[Comparator] =
    Comparators.jaroWinkler(Seq("name")) ++
      Comparators.exact(Seq("nationkey", "segment")) :+
      Comparators.expression("bal_band",
        when(abs(col("acctbal_left") - col("acctbal_right")) < lit(1.5), "close").otherwise("far"))
}
