package graft.linkage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** u-probability estimation by random pair sampling
  * (reference: `calculate_u_probs`, scratch.R:58-100): draw ~1e6
  * random (overwhelmingly non-matching) pairs, evaluate the
  * comparators, and take per-(field, level) frequencies.
  *
  * Scale-first divergence (SURVEY.md §3b): the reference builds the
  * random id table on the driver and `copy_to`s it into the engine
  * (scratch.R:68-71). Here pair generation is distributed from the
  * start — `spark.range(size)` plus a deterministic per-index mix —
  * so no driver materialization and full reproducibility under a seed.
  * What reaches the driver is driver-sized by construction: the two
  * id domains, and one count per distinct tuple of comparator levels
  * ([[calculateUProbs]]).
  */
object UProbs {

  /** Deterministic pseudo-random index in [1, n] derived from (i, salt,
    * seed) with a quadratic congruential mix: j = i+seed+salt,
    * pick = ((j² mod P)·mult + j) mod P mod n + 1, P = 2³¹−1.
    *
    * The nonlinearity (j²) matters: any affine function of a sequential
    * counter is an arithmetic progression mod P, whose residues mod n
    * cover only O(n) of the n² pair grid — measured, not theoretical.
    * The quadratic form reaches full grid coverage with near-uniform
    * marginals (~97.7k distinct pairs from 100k draws on a 1500² grid,
    * matching the ideal birthday-coverage expectation).
    *
    * Expressible identically in ANSI SQL (see [[lcgSql]]) so
    * sampled-pair queries are oracle-checkable; all intermediates stay
    * far below 2⁶³ for sample sizes up to ~3e9.
    */
  def lcgPick(
      i: org.apache.spark.sql.Column, n: Long, salt: Long, seed: Long,
      mult: Long = 48271L): org.apache.spark.sql.Column = {
    val j = i + lit(seed + salt)
    ((pmod(j * j, lit(P)) * lit(mult) + j) % lit(P)) % lit(n) + lit(1)
  }

  private val P = 2147483647L

  /** The same pick as a SQL fragment for the DuckDB oracle. */
  def lcgSql(iExpr: String, n: String, salt: Long, seed: Long, mult: Long = 48271L): String =
    s"((((($iExpr + ${seed + salt}) * ($iExpr + ${seed + salt})) % $P) * $mult + ($iExpr + ${seed + salt})) % $P) % $n + 1"

  /** Attach dense synthetic row ids 1..n ordered by `orderCol`
    * (reference: `mutate(synthetic_id = row_number())`, scratch.R:63-65).
    *
    * NOTE: a global `row_number()` is a single-partition sort — fine for
    * the deterministic/oracle path, wrong at 100 TB. The scale path is
    * [[samplePairsByKey]], which needs no synthetic ids at all.
    */
  def withSyntheticId(df: DataFrame, idName: String, orderCol: String): DataFrame =
    // The single-partition sort is BY DESIGN here (the reference-parity
    // W1 form, driver-sized inputs only; [[graft.ops.Windows.denseIds]]
    // is the scale path) — pinnedOrderBy marks the intent; the
    // WindowExec WARN it triggers is expected (see its scaladoc) and
    // no logger is muted.
    df.withColumn(idName,
      row_number().over(graft.ops.Windows.pinnedOrderBy(col(orderCol))))

  /** Deterministic sampled-pairs table of `size` rows with columns
    * (synthetic_id_left, synthetic_id_right), ids uniform-ish in
    * [1, nA] × [1, nB]. Fully distributed (`spark.range`).
    */
  def samplePairIds(spark: SparkSession, nA: Long, nB: Long, size: Long, seed: Long): DataFrame = {
    val idx = spark.range(size) // column "id"
    idx.select(
      lcgPick(col("id"), nA, 0L, seed, mult = 48271L).as("synthetic_id_left"),
      lcgPick(col("id"), nB, 1000003L, seed, mult = 69621L).as("synthetic_id_right"))
  }

  /** Per-(field, level) sample counts (reference: scratch.R:73-83):
    * evaluate comparators over sampled pairs, pivot to (name, value),
    * drop NULL levels, count. Returns (name, value, n) — at most
    * Σ-levels rows. The pivot uses the built-in `stack` generator (R1).
    */
  def uCounts(sampledPairs: DataFrame, comparators: Seq[Comparator]): DataFrame = {
    val compared = Comparators.doComparisons(sampledPairs, comparators)
    val stackArgs = comparators
      .map(c => s"'${c.name}', `${c.name}`")
      .mkString(", ")
    compared.selectExpr(s"stack(${comparators.size}, $stackArgs) as (name, value)")
      .filter(col("value").isNotNull)
      .groupBy("name", "value")
      .agg(count(lit(1)).as("n"))
  }

  /** Long-form per-(field, level) sample frequencies: [[uCounts]] plus
    * the within-field fraction `p`, a window sum over the tiny
    * (field, level) count table (A3). Returns (name, value, n, p).
    */
  def uProbsLong(sampledPairs: DataFrame, comparators: Seq[Comparator]): DataFrame =
    uCounts(sampledPairs, comparators)
      .withColumn("p", col("n") / sum("n").over(Window.partitionBy("name")))

  /** Deterministic sampled pairs joined DIRECTLY on numeric key
    * columns: LCG picks land in the key's ACTUAL domain
    * [min(key), max(key)] (both sides' domains measured in one job over
    * the two id columns — not assumed 1..n) and equi-join each side's
    * id — NO global row_number sort anywhere in the plan, fully
    * oracle-expressible.
    *
    * Joins are INNER: a pick that hits no key drops the whole pair.
    * This matters — a left join would hand NULL rows to the
    * comparators, and NULL-coalescing comparators (e.g. the
    * Jaro–Winkler band, which maps NULL inputs to "no agreement")
    * would count fabricated comparisons, biasing every u-probability
    * downward on the agreeing levels. Dense keys give a uniform
    * sample of exactly `size` pairs; sparse keys thin the sample
    * (missed picks are dropped entirely), never bias surviving rows.
    */
  def samplePairsByKey(
      dataA: DataFrame, dataB: DataFrame, idColA: String, idColB: String,
      size: Long, seed: Long): DataFrame = {
    val spark = dataA.sparkSession
    val Seq((minA, maxA), (minB, maxB)) = idDomains(dataA, idColA, dataB, idColB)
    val a = Suffix.addSuffix(dataA, "_left")
    val b = Suffix.addSuffix(dataB, "_right")
    val ids = samplePairIds(spark, maxA - minA + 1, maxB - minB + 1, size, seed)
      .select(
        (col("synthetic_id_left") + lit(minA - 1)).as("synthetic_id_left"),
        (col("synthetic_id_right") + lit(minB - 1)).as("synthetic_id_right"))
    ids
      .join(a, ids("synthetic_id_left") === a(Suffix.addSuffix(idColA, "_left")), "inner")
      .join(b, ids("synthetic_id_right") === b(Suffix.addSuffix(idColB, "_right")), "inner")
  }

  /** (min, max) of each side's id column as longs, NULLs ignored, in
    * one job over both: each task reduces its partition of the tagged
    * union and the driver finishes.
    */
  private def idDomains(dataA: DataFrame, idColA: String,
      dataB: DataFrame, idColB: String): Seq[(Long, Long)] = {
    val tagged = dataA.select(lit(0), col(idColA).cast("long"))
      .union(dataB.select(lit(1), col(idColB).cast("long")))
    val parts = Bridge.foldPartitions(tagged) { rows =>
      val lo = Array(Long.MaxValue, Long.MaxValue)
      val hi = Array(Long.MinValue, Long.MinValue)
      rows.foreach { r =>
        if (!r.isNullAt(1)) {
          val (side, id) = (r.getInt(0), r.getLong(1))
          lo(side) = math.min(lo(side), id)
          hi(side) = math.max(hi(side), id)
        }
      }
      (lo, hi)
    }
    Seq(idColA, idColB).zipWithIndex.map { case (idCol, side) =>
      val lo = parts.foldLeft(Long.MaxValue)((m, p) => math.min(m, p._1(side)))
      val hi = parts.foldLeft(Long.MinValue)((m, p) => math.max(m, p._2(side)))
      require(lo <= hi, s"samplePairsByKey: id column $idCol has no non-NULL id")
      (lo, hi)
    }
  }

  /** End-to-end u-probability estimation — the Spark-native
    * `calculate_u_probs` (scratch.R:58-100), routed through the
    * SCALE-SAFE key-join sampler: the reference's driver-side
    * `copy_to` of a random id table becomes a distributed
    * `spark.range` + equi-join, and no step sorts the full table.
    * `idColA`/`idColB` must be numeric id columns (dense 1..n for a
    * perfectly uniform sample). For tables without such a key, accept
    * the single-partition sort of [[withSyntheticId]] on a
    * driver-sized slice and call [[uProbsLong]] directly.
    *
    * One job counts the sample's distinct level tuples
    * ([[org.apache.spark.sql.graftbridge.Bridge.countRows]], at most
    * the product of the per-field level counts, bounded like
    * [[EM.collectPatterns]]); the driver then takes each field's
    * marginal counts, NULL levels dropped, and divides: the same
    * `n / Σ n` doubles as [[uProbsLong]]'s window, since every count is
    * an exact integer.
    */
  def calculateUProbs(
      dataA: DataFrame,
      dataB: DataFrame,
      idColA: String,
      idColB: String,
      comparators: Seq[Comparator],
      size: Long = 1000000L,
      seed: Long = 42L): Map[String, Map[String, Double]] = {
    val compared = Comparators.doComparisons(
      samplePairsByKey(dataA, dataB, idColA, idColB, size, seed), comparators)
    val tuples = Bridge.countRows(compared, 100000,
      "calculateUProbs counts one row per distinct tuple of comparator levels, at most " +
        "the product of the per-field level counts; a comparator is emitting " +
        "high-cardinality levels (raw values instead of a small banded set); band it.")
    comparators.zipWithIndex.flatMap { case (c, i) =>
      val byLevel = tuples.filter(!_._1.isNullAt(i))
        .groupMapReduce(_._1.getString(i))(_._2)(_ + _)
      val total = byLevel.values.sum.toDouble
      if (byLevel.isEmpty) None
      else Some(c.name -> byLevel.map { case (level, n) => level -> n.toDouble / total })
    }.toMap
  }
}
