package graft.linkage

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Comparator-expression builders: each comparator maps a record pair
  * (with `_left`/`_right` suffixed columns) to a discrete agreement
  * level, or NULL when the comparison is inapplicable.
  *
  * The reference's extensibility model is expressions-as-data — quoted
  * dplyr expressions spliced into queries (reference: R/linking.R:65-74,
  * R/comparators.R:4-23). The Spark-native equivalent is the `Column`
  * algebra: a comparator is a named `Column`, and free-form comparators
  * are just user-supplied `Column`s (= `add_expression_comparators`).
  *
  * Ordering note: comparators are kept as an ordered `Seq` (not a Map)
  * so comparison-vector column order is deterministic.
  */
final case class Comparator(name: String, expr: Column)

object Comparators {

  /** Exact-agreement comparator (reference: R/comparators.R:18-23):
    * `if_else(x_left == x_right, "agree", "disagree")`. Spark's
    * `when` has identical 3-valued semantics to R `if_else` here:
    * NULL on either side → NULL level.
    */
  def exact(vars: Seq[String]): Seq[Comparator] =
    vars.map { v =>
      Comparator(v,
        when(col(Suffix.addSuffix(v, "_left")) === col(Suffix.addSuffix(v, "_right")), "agree")
          .when(col(Suffix.addSuffix(v, "_left")) =!= col(Suffix.addSuffix(v, "_right")), "disagree"))
    }

  /** 4-level banded Jaro–Winkler comparator
    * (reference: R/comparators.R:4-14), thresholds == 1 / > 0.9 /
    * > 0.85 / else, with the reference's level labels. NULL inputs
    * give NULL similarity, every `when` condition is NULL (treated as
    * false), and the unconditional `otherwise` fires → "no agreement" —
    * exactly what R `case_when`'s `TRUE ~` branch and SQL CASE's ELSE
    * do, so oracle parity holds for NULL names.
    */
  def jaroWinkler(
      vars: Seq[String],
      strong: Double = 0.9,
      weak: Double = 0.85): Seq[Comparator] =
    vars.map { v =>
      // Fused band expression: ONE similarity evaluation per row (a
      // when-chain over a jaro_winkler column evaluates it per branch).
      // coalesce maps NULL inputs to "no agreement", matching the CASE
      // ELSE / R case_when TRUE~ fall-through.
      val band = graft.expr.JaroWinkler.jaro_winkler_band(
        col(Suffix.addSuffix(v, "_left")), col(Suffix.addSuffix(v, "_right")), strong, weak)
      Comparator(v, coalesce(band, lit("no agreement")))
    }

  /** Free-form comparator — the user supplies any `Column` producing a
    * level label (reference: `add_expression_comparators`,
    * R/linking.R:65-67).
    */
  def expression(name: String, expr: Column): Comparator = Comparator(name, expr)

  /** Evaluate all comparators over an assembled pair table, keeping
    * optional id columns — the reference's `do_comparisons` =
    * `transmute(joined, !!!exprs)` (R/linking.R:72-74).
    */
  def doComparisons(
      pairs: org.apache.spark.sql.DataFrame,
      comparators: Seq[Comparator],
      keep: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val cols = keep.map(col) ++ comparators.map(c => c.expr.as(c.name))
    pairs.select(cols: _*)
  }

  /** Value-specific agreement weight (Winkler's frequency-based
    * refinement of Fellegi–Sunter: agreeing on a RARE value is far
    * stronger match evidence than agreeing on a common one — two
    * "Zbigniew"s are probably the same person; two "Smith"s say
    * little). For a pair agreeing on value x drawn from a population
    * of N records, the weight is the surprisal `⌊ln(N/cnt_x)·10⁶⌋`
    * micro-nats; disagreement → 0; a NULL on either side → NULL (the
    * standard FS missing level). Appends `{varName}_fw_unat` (and the
    * agreed value as `{varName}_agreed`) to the pair table.
    *
    * Plan shape: the frequency table is a hash agg over the
    * population, then BROADCAST to the pair table (value domains —
    * names, segments, cities — are dwarfed by the pair count at any
    * scale where linkage is hard); the 1-row N rides the same
    * broadcast. Map-only on the pairs side: no shuffle of the pair
    * table at all.
    */
  def frequencyWeightedAgreement(
      pairs: org.apache.spark.sql.DataFrame, varName: String,
      pop: org.apache.spark.sql.DataFrame, popCol: String,
      scale: Double = 1e6): org.apache.spark.sql.DataFrame = {
    val l = col(Suffix.addSuffix(varName, "_left"))
    val r = col(Suffix.addSuffix(varName, "_right"))
    val freq = pop.groupBy(col(popCol).as("__fw_val"))
      .agg(count(lit(1)).as("__fw_cnt"))
    val stats = freq.agg(sum("__fw_cnt").as("__fw_n"))
    val agreedName = Suffix.addSuffix(varName, "_agreed")
    pairs
      .withColumn(agreedName, when(l === r, l))
      .join(broadcast(freq), col(agreedName) === col("__fw_val"), "left")
      .crossJoin(broadcast(stats))
      .withColumn(Suffix.addSuffix(varName, "_fw_unat"),
        when(l.isNull || r.isNull, lit(null).cast("long"))
          .when(l =!= r, 0L)
          .otherwise(floor(
            log(col("__fw_n").cast("double") / col("__fw_cnt")) * scale).cast("long")))
      .drop("__fw_val", "__fw_cnt", "__fw_n")
  }
}
