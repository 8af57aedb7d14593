package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.JaroWinkler

/** F1 (SURVEY.md §2.8): Jaro–Winkler parity with DuckDB's
  * `jaro_winkler_similarity`. Golden values below were produced by
  * DuckDB itself and must match BITWISE (the comparator bands compare
  * the double against 0.9/0.85 exactly).
  */
class JaroWinklerSpec extends SparkSpec {

  private val goldens = Seq(
    ("martha", "marhta", 0.9611111111111111),
    ("dixon", "dicksonx", 0.8133333333333332),
    ("jellyfish", "smellyfish", 0.8962962962962964),
    ("dwayne", "duane", 0.8400000000000001),
    ("crate", "trace", 0.7333333333333334),
    ("ab", "ba", 0.0), // window = max(2,2)/2 - 1 = 0 → no matches possible
    ("abc", "abc", 1.0),
    ("", "a", 0.0),
    ("a", "", 0.0),
    ("", "", 0.0), // DuckDB: any empty side → 0, including both-empty
    ("a", "a", 1.0),
    ("abcdvwxyz", "cabdvwxyz", 0.9629629629629629),
    ("arnab", "aranb", 0.9466666666666665),
    ("hello", "hallo", 0.88))

  private def randomWords(seed: Long, n: Int, maxLen: Int, alphabet: String): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(rnd.nextInt(maxLen + 1))(alphabet(rnd.nextInt(alphabet.length))).mkString)
  }

  test("golden DuckDB values match bitwise") {
    goldens.foreach { case (a, b, expected) =>
      val got = JaroWinkler.similarity(a, b)
      assert(got == expected, s"jw($a, $b): got $got expected $expected")
    }
  }

  test("expression evaluates through the Column API") {
    import spark.implicits._
    val df = goldens.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val got = df.select(JaroWinkler.jaro_winkler(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(got.toSeq == goldens.map(_._3))
  }

  test("NULL propagates to NULL") {
    import spark.implicits._
    val df = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
    val row = df.select(
      JaroWinkler.jaro_winkler(col("a"), col("b")).as("s"),
      JaroWinkler.jaro_winkler_band(col("a"), col("b"), 0.9, 0.85).as("band")).head
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("band agrees with CASE over the scalar similarity (1000 random pairs)") {
    val words = randomWords(7L, 1000, 10, "abcd")
    words.zip(words.reverse).foreach { case (a, b) =>
      val sim = JaroWinkler.similarity(a, b)
      val expected =
        if (a.isEmpty || b.isEmpty) "no agreement"
        else if (sim == 1.0) "full agreement"
        else if (sim > 0.9) "strong partial agreement"
        else if (sim > 0.85) "weak partial agreement"
        else "no agreement"
      val got = JaroWinkler.band(
        UTF8String.fromString(a), UTF8String.fromString(b), 0.9, 0.85).toString
      assert(got == expected, s"band($a, $b): got $got expected $expected (sim=$sim)")
    }
  }

  test("band agrees with CASE over the scalar similarity on 24k fixture-shaped pairs") {
    // LinkageE2E's names: 12 letters over a 16-letter alphabet. Pairs
    // are random (the u-sample), one letter substituted (tableB's
    // perturbation), two adjacent letters transposed, and multi-byte
    // UTF-8 words, which the similarity compares byte by byte.
    val rnd = new scala.util.Random(23L)
    val letters = "ghijklmnopqrstuv"
    def name(alphabet: String, len: Int) = Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
    def substitute(w: String) = w.updated(rnd.nextInt(w.length), letters(rnd.nextInt(16)))
    def transpose(w: String) = {
      val i = rnd.nextInt(w.length - 1)
      w.updated(i, w(i + 1)).updated(i + 1, w(i))
    }
    val pairs = Seq.fill(6000) {
      val w = name(letters, 12)
      Seq((w, name(letters, 12)), (w, substitute(w)), (w, transpose(w)),
        (name("aéßü€ghij", 1 + rnd.nextInt(8)), name("aéßü€ghij", 1 + rnd.nextInt(8))))
    }.flatten
    assert(pairs.size >= 20000)
    def caseBand(sim: Double, strong: Double, weak: Double) =
      if (sim == 1.0) "full agreement"
      else if (sim > strong) "strong partial agreement"
      else if (sim > weak) "weak partial agreement"
      else "no agreement"
    for ((strong, weak) <- Seq((0.9, 0.85), (0.8, 0.7), (0.6, 0.4))) {
      val bands = pairs.map { case (a, b) =>
        val sim = JaroWinkler.similarity(a, b)
        val got = JaroWinkler.band(
          UTF8String.fromString(a), UTF8String.fromString(b), strong, weak).toString
        assert(got == caseBand(sim, strong, weak), s"band($a, $b, $strong, $weak): got $got (sim=$sim)")
        got
      }
      assert(bands.toSet.size == 4, s"thresholds ($strong, $weak) reach ${bands.toSet}")
    }
  }

  test("similarityBound: never below the similarity, and filters most random fixture names") {
    val rnd = new scala.util.Random(29L)
    def name() = Seq.fill(12)("ghijklmnopqrstuv"(rnd.nextInt(16))).mkString
    val pairs = Seq.fill(5000)((name(), name())).map { case (a, b) =>
      (UTF8String.fromString(a), UTF8String.fromString(b))
    }
    val bounds = pairs.map { case (a, b) =>
      val bound = JaroWinkler.similarityBound(a, a.numBytes, b, b.numBytes)
      assert(bound >= JaroWinkler.similarity(a, b), s"bound($a, $b) = $bound")
      bound
    }
    // A length-only bound is 1.0 for every pair of 12-letter names.
    assert(bounds.count(_ <= 0.85 - 1e-9) > bounds.size / 2)
  }

  test("symmetric (1000 random pairs)") {
    val ws = randomWords(13L, 1000, 8, "xyz")
    ws.zip(ws.reverse).foreach { case (a, b) =>
      assert(JaroWinkler.similarity(a, b) == JaroWinkler.similarity(b, a), s"asym on ($a, $b)")
    }
  }
}
