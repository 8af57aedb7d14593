package graft

import org.apache.spark.sql.functions._
import graft.ops.Bpe

/** BPE subword tokenization specs: hand-computed merge-sequence
  * goldens (including overlapping runs and ties), single-pass
  * leftmost semantics of the double-replace rewrite, the encode join,
  * the audited model round-trip, and the loud-refusal guards.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("bpeTrain: hand-computed merge sequence on {aaab x3, ab x2}") {
    // Pair stats by hand (overlapping positions count):
    //   round 1: (a,a) = 2*3 = 6  beats (a,b) = 3+2 = 5  → merge "aa"
    //            aaab → [aa, a, b] (leftmost, non-overlapping), ab unchanged
    //   round 2: (aa,a) = 3, (a,b) = 3+2 = 5              → merge "ab"
    //            aaab → [aa, ab], ab → [ab]
    //   round 3: (aa,ab) = 3 only                         → merge "aaab"
    val words = Seq(("aaab", 3L), ("ab", 2L)).toDF("word", "freq")
    val (mt, seg) = Bpe.bpeTrain(words, merges = 3)
    val got = mt.orderBy("merge_no").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1, "a", "a", "aa", 6L),
      (2, "a", "b", "ab", 5L),
      (3, "aa", "ab", "aaab", 3L)))
    val pieces = seg.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
    assert(pieces == Map("aaab" -> List("aaab"), "ab" -> List("ab")))
  }

  test("bpeTrain: overlapping runs merge leftmost non-overlapping (aaaaa)") {
    // (a,a) counted at 4 positions; the merge pass must yield
    // [aa, aa, a] — leftmost non-overlapping. A single-separator
    // string rewrite mis-merges this to [aa, a, aa]; the doubled
    // boundary separators are what make replace-all exact.
    val words = Seq(("aaaaa", 1L)).toDF("word", "freq")
    val (mt, seg) = Bpe.bpeTrain(words, merges = 1)
    val m = mt.collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(m.toSeq == Seq(("a", "a", 4L)))
    assert(seg.collect()(0).getSeq[String](2).toList == List("aa", "aa", "a"))
  }

  test("bpeTrain: tie-break is (count desc, pair asc); pair exhaustion truncates") {
    // (b,a) and (b,c) both count 1 → lexicographic min (b,a) wins.
    val words = Seq(("ba", 1L), ("bc", 1L)).toDF("word", "freq")
    val (mt, seg) = Bpe.bpeTrain(words, merges = 10)
    val got = mt.orderBy("merge_no").collect()
      .map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    // round 1: (b,a) on the tie; round 2: (b,c) = 1; then every word
    // is a single symbol — rounds 3..10 produce no merge rows.
    assert(got.toSeq == Seq((1, "ba", 1L), (2, "bc", 1L)))
    val pieces = seg.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
    assert(pieces == Map("ba" -> List("ba"), "bc" -> List("bc")))
  }

  test("bpeEncode: row-level piece stream in (word_pos, piece_pos) order; novel word refuses") {
    val words = Seq(("aaab", 3L), ("ab", 2L)).toDF("word", "freq")
    val (_, seg) = Bpe.bpeTrain(words, merges = 2) // aaab → [aa, ab], ab → [ab]
    val docs = Seq((1L, "ab aaab"), (2L, "aaab")).toDF("doc_id", "text")
    val got = Bpe.bpeEncode(docs, "doc_id", col("text"), seg)
      .orderBy("doc_id", "word_pos", "piece_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, 1L, "ab"), (1L, 2L, 1L, "aa"), (1L, 2L, 2L, "ab"),
      (2L, 1L, 1L, "aa"), (2L, 1L, 2L, "ab")))
    val novel = Seq((3L, "zz")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Bpe.bpeEncode(novel, "doc_id", col("text"), seg).collect()
    }
    assert(e.getMessage.contains("not in segmentation"), e.getMessage)
  }

  test("bpeTrain guards: empty word and separator-containing word refuse loudly") {
    val bad1 = Seq(("", 1L)).toDF("word", "freq")
    val e1 = intercept[Exception](Bpe.bpeTrain(bad1, merges = 1)._1.collect())
    assert(e1.getMessage.contains("bpeTrain"), e1.getMessage)
    val bad2 = Seq(("a" + Bpe.DefaultSep + "b", 1L)).toDF("word", "freq")
    val e2 = intercept[Exception](Bpe.bpeTrain(bad2, merges = 1)._1.collect())
    assert(e2.getMessage.contains("separator"), e2.getMessage)
  }

  test("bpe model artifact: merge table round-trips through the audited writer") {
    // the merge table IS the model — persisting it must be lossless
    // and verified: the reloaded table equals the trained one row for row
    val words = Seq(("banana", 4L), ("bandana", 2L), ("ana", 7L)).toDF("word", "freq")
    val (mt, _) = Bpe.bpeTrain(words, merges = 4)
    val cols = Seq("merge_no", "pair_a", "pair_b", "merged", "pair_count")
    val out = tempDir("graft_bpe_model").toString
    graft.etl.Etl.writeAudited(mt, out, cols)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).orderBy("merge_no").collect().toSeq
    val trained = rows(mt)
    assert(trained.size == 4)
    assert(rows(graft.etl.Etl.readAudited(spark, out)) == trained, // verifying reader
      "reloaded model diverged from the trained merge table")
  }

  test("bpeTrain: deterministic under repartitioning (pure function of the freq table)") {
    val words = Seq(("spark", 5L), ("sparse", 3L), ("parse", 4L), ("park", 2L))
      .toDF("word", "freq")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val (mt, _) = Bpe.bpeTrain(df, merges = 5)
      mt.orderBy("merge_no").collect()
        .map(r => (r.getInt(0), r.getString(3), r.getLong(4))).toSeq
    }
    assert(run(words) == run(words.repartition(7)))
  }
}
