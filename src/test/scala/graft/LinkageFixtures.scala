package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.linkage._

/** The arguments of one [[graft.linkage.Linkage.run]], shared by the
  * specs that run a whole linkage pass.
  */
final case class LinkageFixture(a: DataFrame, b: DataFrame, id: String, rules: BlockingRules,
    saltKey: Column, comparators: Seq[Comparator], truth: DataFrame, uSample: Long,
    emIterations: Int, threshold: Double, selfLinkage: Boolean = false) {
  def run(): Linkage.Result = Linkage.run(a, b, id, rules, saltKey, comparators, truth,
    uSample, emIterations, threshold, selfLinkage)
}

object LinkageFixtures {

  /** A perfbench-shaped pass (graft.LinkageE2E's rules and comparators)
    * over 600 A rows and their perturbed clone: two computed-key
    * passes, a JW name band, two exact fields and a balance band.
    */
  def benchmarkShaped(spark: SparkSession): LinkageFixture = {
    val a = spark.range(1, 601).select(
        col("id").as("rec_id"),
        translate(substring(md5(col("id").cast("string")), 1, 12),
          "0123456789abcdef", "ghijklmnopqrstuv").as("name"),
        (col("id") % 25).as("nationkey"),
        round(pmod(xxhash64(col("id")), lit(100000L)).cast("double") / 10.0, 2).as("acctbal"),
        concat(lit("seg"), (col("id") % 5).cast("string")).as("segment"))
      .localCheckpoint(true)
    val b = LinkageE2E.tableB(a).localCheckpoint(true)
    val truth = a.select(col("rec_id"), col("rec_id").as("cluster"))
      .union(b.select(col("rec_id"), (col("rec_id") - 1000000000L).as("cluster")))
    val balKey = (c: Column) => floor(c / 1000)
    val rules = BlockingRules(Seq(
      ComputedKeys(Seq(("name_pfx", substring(col("name_left"), 1, 2), substring(col("name_right"), 1, 2)))),
      ComputedKeys(Seq(
        ("nk", col("nationkey_left"), col("nationkey_right")),
        ("bal", balKey(col("acctbal_left")), balKey(col("acctbal_right")))))))
    val comparators = Comparators.jaroWinkler(Seq("name")) ++
      Comparators.exact(Seq("nationkey", "segment")) :+
      Comparators.expression("bal_band",
        when(abs(col("acctbal_left") - col("acctbal_right")) < lit(1.5), "close").otherwise("far"))
    LinkageFixture(a, b, "rec_id", rules, struct(col("nationkey"), balKey(col("acctbal")).as("b")),
      comparators, truth, uSample = 20000L, emIterations = 5, threshold = 0.0)
  }

  /** graft.LinkageDemo's self-linkage over its persons fixture. */
  def demo(spark: SparkSession): LinkageFixture = {
    val people = LinkageDemo.persons(spark).localCheckpoint(true)
    val data = people.drop("cluster")
    LinkageFixture(data, data, "unique_id", LinkageDemo.rules, substring(col("surname"), 1, 1),
      LinkageDemo.comparators, people.select("unique_id", "cluster"), uSample = 200000L,
      emIterations = 20, threshold = 5.0, selfLinkage = true)
  }
}
