package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.UnicodeExprs

/** Unicode normalization kernels vs the DuckDB semantics they mirror.
  * The expected strings below were pinned against DuckDB 1.0's
  * `nfc_normalize` / `strip_accents` (codepoint-for-codepoint; every
  * non-ASCII codepoint is an explicit escape so no editor/tooling can
  * silently re-normalize the fixtures), so the golden rows are a
  * standing cross-engine contract even outside the oracle harness;
  * q_unicode_norm then re-proves it end-to-end through the hash
  * compare on every round.
  */
class UnicodeSpec extends SparkSpec {
  import spark.implicits._

  private def nfc(s: String): String =
    UnicodeExprs.nfcNormalize(UTF8String.fromString(s)).toString
  private def strip(s: String): String =
    UnicodeExprs.stripAccents(UTF8String.fromString(s)).toString

  test("nfc_normalize: composed/decomposed/singleton golden cases (DuckDB-pinned)") {
    assert(nfc("e\u0301") == "\u00e9") // decomposed -> composed
    assert(nfc("\u00e9") == "\u00e9") // already NFC unchanged
    assert(nfc("\u212b") == "\u00c5") // Angstrom singleton -> A-ring
    assert(nfc("\u2126") == "\u03a9") // Ohm singleton -> Omega
    assert(nfc("abc 123") == "abc 123") // ASCII fast path
    assert(nfc("l\u0323\u0304") == "\u1e39") // multi-mark recompose
    assert(nfc("\u0915\u0903") == "\u0915\u0903") // Mc mark kept by NFC
  }

  test("strip_accents: drops Mn, Mc, AND Me marks after NFD (DuckDB-pinned)") {
    assert(strip("\u00e9") == "e") // composed acute
    assert(strip("e\u0301") == "e") // decomposed acute
    assert(strip("\u00f1") == "n")
    assert(strip("\u00dc") == "U")
    assert(strip("\u1e39") == "l") // dot-below + macron, both dropped
    assert(strip("\u212b") == "A") // singleton decomposes, ring dropped
    assert(strip("\u2126") == "\u03a9") // mark-free singleton stays decomposed
    assert(strip("\u0915\u0903") == "\u0915") // spacing mark (Mc) dropped
    assert(strip("a\u20dd") == "a") // enclosing mark (Me) dropped
    assert(strip("x\u0336y") == "xy") // strikethrough overlay (Mn)
    assert(strip("\u00f8") == "\u00f8") // o-slash: no decomposition, kept
    assert(strip("\u00df") == "\u00df") // sharp-s: kept (NFKC-only fold)
    assert(strip("plain ascii!") == "plain ascii!")
  }

  test("column faces run inside the plan, handle NULL, and converge spellings") {
    val composed = "Caf\u00e9 au lait"
    val decomposed = "Cafe\u0301 au lait"
    val df = Seq(
      (1L, composed),
      (2L, decomposed),
      (3L, null.asInstanceOf[String]),
      (4L, "no accents")).toDF("id", "s")
    // strip_accents has no Column face: its SQL spelling is the plan
    graft.GraftFunctions.register(spark)
    val m = df.select(col("id"),
        UnicodeExprs.nfcNormalizeCol(col("s")).as("n"),
        expr("strip_accents(s)").as("p"))
      .collect().map(r => (r.getLong(0), (r.getAs[String]("n"), r.getAs[String]("p")))).toMap
    assert(m(1L) == ((composed, "Cafe au lait")))
    assert(m(2L) == ((composed, "Cafe au lait"))) // both spellings converge
    assert(m(3L) == ((null, null)))
    assert(m(4L) == (("no accents", "no accents")))
    // converged spellings now hash-identical -- the dedup motivation
    val digests = df.filter(col("id") <= 2)
      .select(md5(UnicodeExprs.nfcNormalizeCol(col("s")))).distinct().count()
    assert(digests == 1)
  }

  test("SQL registration under DuckDB names") {
    graft.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT nfc_normalize('e\u0301') AS n, strip_accents('\u00e9\u00f1') AS p")
      .head()
    assert(r.getString(0) == "\u00e9")
    assert(r.getString(1) == "en")
  }
}
