package graft

import org.apache.spark.sql.functions._

import graft.linkage.{Comparators, UProbs}

/** u-probability estimation specs (scratch.R:58-100): deterministic
  * sampling, per-field fractions summing to 1, NULL levels dropped.
  */
class UProbsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val people = Seq(
    (1L, "alice", "AB1"), (2L, "alicia", "AB1"), (3L, "bob", "CD2"),
    (4L, "bob", null), (5L, "carol", "AB1"), (6L, "carole", "EF3")
  ).toDF("id", "name", "postcode")

  test("samplePairIds: deterministic under a seed, ids within range") {
    val a = UProbs.samplePairIds(spark, 6, 6, 500, seed = 42L).collect()
    val b = UProbs.samplePairIds(spark, 6, 6, 500, seed = 42L).collect()
    assert(a.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      b.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(a.forall(r => r.getLong(0) >= 1 && r.getLong(0) <= 6))
    // both sides are differently salted:
    assert(a.exists(r => r.getLong(0) != r.getLong(1)))
  }

  test("calculateUProbs: fractions per field sum to 1, NULL levels excluded") {
    val comparators = Comparators.exact(Seq("postcode")) ++ Comparators.jaroWinkler(Seq("name"))
    val u = UProbs.calculateUProbs(people, people, "id", "id", comparators, size = 2000L)
    assert(u.keySet == Set("postcode", "name"))
    u.foreach { case (f, levels) =>
      assert(math.abs(levels.values.sum - 1.0) < 1e-9, s"$f fractions: $levels")
      assert(levels.keys.forall(_ != null))
    }
    // exact comparator yields NULL when either postcode is NULL (id 4):
    // those rows are excluded, so "agree"+"disagree" still sum to 1.
    assert(u("postcode").keySet.subsetOf(Set("agree", "disagree")))
    assert(u("name").keySet.contains("full agreement"))
  }

  test("calculateUProbs: driver division equals the uProbsLong window bit for bit") {
    val comparators = Comparators.exact(Seq("postcode")) ++ Comparators.jaroWinkler(Seq("name")) :+
      Comparators.expression("id_digit", (col("id_left") % 3).cast("string"))
    for (size <- Seq(7L, 2000L); seed <- Seq(42L, 9L)) {
      val reference = UProbs.toNestedMap(UProbs.uProbsLong(
        UProbs.samplePairsByKey(people, people, "id", "id", size, seed), comparators))
      val got = UProbs.calculateUProbs(people, people, "id", "id", comparators, size, seed)
      assert(got.keySet == reference.keySet)
      got.foreach { case (f, levels) =>
        assert(levels.keySet == reference(f).keySet, s"$f levels")
        levels.foreach { case (l, p) =>
          assert(java.lang.Double.doubleToRawLongBits(p) ==
            java.lang.Double.doubleToRawLongBits(reference(f)(l)), s"$f/$l: $p vs ${reference(f)(l)}")
        }
      }
    }
  }
}
