package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.linkage._

/** End-to-end Fellegi–Sunter run over a synthesized persons dataset
  * with planted duplicate clusters — the Spark analogue of the
  * reference's de-facto integration test (scratch.R:18-139), run as
  * one self-linkage [[graft.linkage.Linkage.run]]. Prints fitted
  * λ/weights and the precision-by-weight-band table.
  *
  * Run: `sbt "runMain graft.LinkageDemo"`.
  */
object LinkageDemo {

  /** Seeded persons generator (FIXTURES.md §B shape): `nClusters`
    * entities, 1–3 records each, typo-perturbed names, occasional
    * missing gender.
    */
  def persons(spark: SparkSession, nClusters: Int = 400, seed: Long = 7L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val firstNames = Vector("john", "jane", "emily", "michael", "sarah", "david",
      "laura", "james", "maria", "robert", "linda", "peter", "susan", "thomas")
    val surnames = Vector("smith", "jones", "taylor", "brown", "wilson", "davies",
      "evans", "walker", "wright", "green", "hall", "wood", "martin", "white")
    val occupations = Vector("farmer", "teacher", "smith", "clerk", "merchant", null)

    def typo(s: String): String =
      if (s.length < 3) s
      else {
        val i = 1 + rnd.nextInt(s.length - 2)
        rnd.nextInt(3) match {
          case 0 => s.updated(i, (('a' + rnd.nextInt(26)).toChar)) // substitute
          case 1 => s.substring(0, i) + s.substring(i + 1)         // delete
          case _ => s.substring(0, i) + s.charAt(i) + s.substring(i) // duplicate
        }
      }

    val rows = Seq.newBuilder[(Long, Long, String, String, String, String, String, String)]
    var uid = 0L
    (0 until nClusters).foreach { c =>
      val fn = firstNames(rnd.nextInt(firstNames.size))
      val sn = surnames(rnd.nextInt(surnames.size))
      val dob = f"19${40 + rnd.nextInt(60)}%02d-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
      val gender = if (rnd.nextDouble() < 0.08) null else if (rnd.nextBoolean()) "male" else "female"
      val postcode = f"PC${rnd.nextInt(100)}%02d"
      val occ = occupations(rnd.nextInt(occupations.size))
      val nRecs = 1 + rnd.nextInt(3)
      (0 until nRecs).foreach { r =>
        val f2 = if (r > 0 && rnd.nextDouble() < 0.4) typo(fn) else fn
        val s2 = if (r > 0 && rnd.nextDouble() < 0.4) typo(sn) else sn
        rows += ((uid, c.toLong, f2, s2, dob, gender, postcode, occ))
        uid += 1
      }
    }
    spark.createDataFrame(rows.result())
      .toDF("unique_id", "cluster", "first_name", "surname", "dob", "gender", "postcode_fake", "occupation")
  }

  /** Blocking (reference: scratch.R:23-29). The last pass is SURVEY
    * §4's first-initial case: a real-alphabet surname initial is a
    * tiny-cardinality SKEWED key (five of the fixture's fourteen
    * surnames start with 'w', so one block carries ~35% of the rows
    * and ~46% of the pair work) — the shape where AQE's byte-based
    * skew split can't help a compute-bound pair fan-out. The salt
    * count is NOT asserted: `recommendSalts` forecasts per-key pair
    * work from the key counts and picks it before the join runs.
    */
  val rules: BlockingRules = BlockingRules(Seq(
    EquiKeys("surname"), EquiKeys("dob"), EquiKeys("postcode_fake"), EquiKeys("first_name"),
    ComputedKeys(Seq(
      ("s1", substring(col("surname_left"), 1, 1), substring(col("surname_right"), 1, 1))))))

  /** Comparators (reference: scratch.R:39-47). */
  val comparators: Seq[Comparator] =
    Comparators.exact(Seq("dob", "postcode_fake", "occupation")) ++
    Comparators.jaroWinkler(Seq("first_name", "surname")) :+
    Comparators.expression("gender_comparison",
      when(col("gender_left") === "male" && col("gender_right") === "male", "agree (male)")
        .when(col("gender_left") === "female" && col("gender_right") === "female", "agree (female)")
        .when(!coalesce(col("gender_left").isin("female", "male"), lit(false)) ||
              !coalesce(col("gender_right").isin("female", "male"), lit(false)), null)
        .otherwise("disagree"))

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-linkage-demo")

    val people = persons(spark).cache()
    val data = people.drop("cluster")
    val truth = people.select("unique_id", "cluster")
    val n = data.count()
    println(s"persons: $n records")

    // Pattern counts, u-probabilities, EM, scoring and glm calibration
    // (reference: scratch.R:51-139), at the reference's `weight > 5`.
    val res = Linkage.run(data, data, "unique_id", rules, substring(col("surname"), 1, 1),
      comparators, truth, uSample = 200000L, emIterations = 20, threshold = 5.0,
      selfLinkage = true)
    println(s"recommended hotKeySalts for the surname-initial pass: ${res.salts}")

    // Salt-identity check, run live on the pipeline's own pair set
    // (LinkageSpec pins the same identity on fixed salt counts): the
    // recommendation changes the PARALLELISM of the hot blocks, never
    // the pairs — so precision below is by construction the number an
    // unsalted run produces. True MULTISET identity: compare (pair →
    // multiplicity) frames — except() over the grouped counts is exact
    // even if a salting bug broke extractBlocks' pass disjointness
    // SYMMETRICALLY on both sides (count-plus-set equality alone cannot
    // tell {x,x,y} from {x,y,y}). The unsalted re-run is a demo-only
    // double-compute; the spec-level identity (LinkageSpec) checks
    // without it.
    val unsalted = Blocking.extractBlocks(data, data, "unique_id", "unique_id", rules,
      selfLinkage = true)
    val pairCols = res.ids.columns.map(col).toSeq
    def multiset(df: DataFrame) = df.groupBy(pairCols: _*).count()
    val saltIdentical =
      multiset(res.ids).except(multiset(unsalted)).isEmpty &&
        multiset(unsalted).except(multiset(res.ids)).isEmpty
    println(s"candidate pairs: ${res.candidates} (salted ≡ unsalted: $saltIdentical)")
    require(saltIdentical, "salted blocking must preserve the pair multiset")

    println(s"distinct patterns: ${res.patterns.size}")
    println(f"lambda = ${res.em.lambda}%.6f")
    res.em.weights.foreach { case (f, ls) =>
      println(s"  $f: " + ls.map { case (l, w) => f"$l=$w%.2f" }.mkString(", "))
    }
    println("precision by weight band:")
    res.bands.foreach(r => println(f"  band=${r.getDouble(0)}%5.1f precision=${r.getDouble(1)}%.4f n=${r.getLong(2)}"))
    println(f"precision@weight>5: ${res.trueTop}/${res.top} = ${res.trueTop.toDouble / res.top}%.3f")
    val cal = res.calibration
    println(f"glm calibration: P(match) = sigmoid(${cal.intercept}%.4f + ${cal.slope}%.4f * weight)")
    spark.stop()
  }
}
