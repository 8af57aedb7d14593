package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Unigram

/** Contracts of the unigram-LM tokenizer ([[graft.ops.Unigram]]):
  * Viterbi optimality and determinism, the hard-EM/prune schedule, the
  * micro-nat score formula's cross-engine exactness anchor, and the
  * loud-refusal paths.
  */
class UnigramSpec extends SparkSpec {

  import spark.implicits._

  /** Add-one-smoothed micro-nat piece scores as a Spark column:
    * `logp_unat = ⌊10⁶·ln((cnt+1)/(total+|V|))⌋` — the Spark-side form
    * of the driver's `rescoreDriver`, which the randomized-grid case
    * below holds to `StrictMath.log`. The (total,|V|) stats row
    * broadcasts.
    */
  private def rescore(counts: DataFrame): DataFrame = {
    val stats = counts.agg(sum("cnt").as("__total"), count(lit(1)).as("__nv"))
    counts.crossJoin(broadcast(stats))
      .select(col("piece"), col("cnt"),
        floor(log((col("cnt") + 1).cast("double") /
          (col("__total") + col("__nv")).cast("double")) * 1e6)
          .cast("long").as("logp_unat"))
  }

  /** Hard-EM M-step counts as a Spark frame: piece usage along each
    * word's Viterbi segmentation, frequency-weighted, with unused
    * vocab pieces kept at count 0 — the contract `unigramTrain`'s
    * driver-side EM round keeps.
    */
  private def emCounts(words: DataFrame, scoredVocab: DataFrame, maxPieceLen: Int): DataFrame = {
    val used = Unigram.viterbiSegments(words, scoredVocab, maxPieceLen)
      .select(explode(col("pieces")).as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("__used"))
    scoredVocab.select("piece").join(used, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("__used"), lit(0L)).as("cnt"))
  }

  private def vocab(rows: (String, Long)*) = rescore(rows.toDF("piece", "cnt"))

  test("viterbi picks the max-score segmentation (hand-computed)") {
    // vocab counts: ab=8, a=1, b=1, c=5 → total=15, V=4.
    // unat(cnt) = floor(1e6*ln((cnt+1)/19)):
    //   ab → floor(1e6*ln(9/19))  = -747_215 (ish)
    //   a,b → floor(1e6*ln(2/19)) = -2_251_292 (ish)
    //   c  → floor(1e6*ln(6/19))  = -1_152_680 (ish)
    // "abc" best = [ab, c] (one cheap big piece beats a+b+c).
    val v = vocab("ab" -> 8L, "a" -> 1L, "b" -> 1L, "c" -> 5L)
    val seg = Unigram.viterbiSegments(
      Seq(("abc", 3L)).toDF("word", "freq"), v, maxPieceLen = 2)
      .collect()
    assert(seg.length == 1)
    assert(seg(0).getAs[scala.collection.Seq[String]]("pieces").toSeq == Seq("ab", "c"))
    // score must equal the sum of the chosen pieces' unats exactly
    val unats = v.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(seg(0).getAs[Long]("score_unat") == unats("ab") + unats("c"))
  }

  test("viterbi tie-break is deterministic and engine-mirrorable") {
    // a, b, ab, ba all equal count → "aba" has equal-score splits
    // [ab,a] and [a,ba]. The DP maximizes struct(score, pieces)
    // step-locally: at position 3, candidates are
    // (s=2: best(1)=[a] + 'ba') and (s=3: best(2)=[ab] + 'a');
    // best(2) chose [ab] over [a,b] (higher score, fewer pieces).
    // Tie on score → array max: ["ab","a"] vs ["a","ba"]:
    // "ab" > "a" bytewise, so [ab, a] wins.
    val v = vocab("a" -> 4L, "b" -> 4L, "ab" -> 4L, "ba" -> 4L)
    val seg = Unigram.viterbiSegments(
      Seq(("aba", 1L)).toDF("word", "freq"), v, maxPieceLen = 2).collect()
    assert(seg(0).getAs[scala.collection.Seq[String]]("pieces").toSeq == Seq("ab", "a"))
  }

  test("rescore (Spark column) ≡ driver-side StrictMath.log over a randomized grid") {
    // The driver-side EM loop (rescoreDriver) relies on Spark's `log`
    // expression calling StrictMath.log — true today, but an
    // implementation detail a Spark upgrade could change for values
    // outside the hand-picked anchors (round-15 ADVICE). Pin Long
    // equality of the full micro-nat formula across a seeded random
    // grid of (cnt, |V|) shapes so such a drift fails loudly here,
    // not as a silent oracle-hash break.
    val rnd = new scala.util.Random(20260819L)
    (1 to 8).foreach { _ =>
      val nv = 1 + rnd.nextInt(300)
      val counts = (0 until nv).map(i =>
        (s"p$i", rnd.nextInt(3) match {
          case 0 => rnd.nextInt(5).toLong              // tiny counts
          case 1 => rnd.nextInt(100000).toLong          // mid
          case _ => math.abs(rnd.nextLong()) % (1L << 40) // huge
        }))
      val total = counts.iterator.map(_._2).sum
      val expected = counts.map { case (p, c) =>
        p -> math.floor(
          StrictMath.log((c + 1).toDouble / (total + nv).toDouble) * 1e6).toLong
      }.toMap
      val got = rescore(counts.toDF("piece", "cnt")).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(got == expected, s"micro-nat drift at nv=$nv total=$total")
    }
  }

  test("micro-nat floor anchor matches the DuckDB value") {
    // floor(1e6*ln(3/40)) = -2590268 verified against DuckDB directly
    // (one IEEE ln of an integer-over-integer division — the exactness
    // contract every trace row rides on).
    val got = spark.range(1)
      .select(floor(log(lit(3L).cast("double") / lit(40L).cast("double")) * 1e6)
        .cast("long")).head.getLong(0)
    assert(got == -2590268L)
  }

  test("train schedule: trace rounds, single-char coverage, prune size") {
    val words = Seq(("banana", 10L), ("bandana", 5L), ("nab", 7L), ("ban", 9L))
      .toDF("word", "freq")
    val (trace, finalVocab) = Unigram.unigramTrain(words,
      maxPieceLen = 3, seedMultiChar = 8, keepMultiChar = 3,
      emBeforePrune = 2, emAfterPrune = 1, maxWordLen = 12)
    val t = trace.collect()
    val rounds = t.map(_.getLong(0)).distinct.sorted
    assert(rounds.toSeq == Seq(0L, 1L, 2L, 3L, 4L), "seed, EM, EM, prune, EM")
    val chars = Set("a", "b", "n", "d")
    // singles survive every round (coverage guarantee)
    rounds.foreach { r =>
      val pieces = t.filter(_.getLong(0) == r).map(_.getString(1)).toSet
      assert(chars.subsetOf(pieces), s"round $r lost a single char")
    }
    // post-prune rounds carry exactly keepMultiChar multi-char pieces
    Seq(3L, 4L).foreach { r =>
      val multi = t.filter(x => x.getLong(0) == r && x.getString(1).length > 1)
      assert(multi.length == 3, s"round $r multi-char count ${multi.length}")
    }
    // final vocab is the last trace round, and every word segments
    // under it with total usage mass = total piece count mass
    val fin = finalVocab.collect().map(r => r.getString(0)).toSet
    val last = t.filter(_.getLong(0) == 4L).map(_.getString(1)).toSet
    assert(fin == last)
    val seg = Unigram.viterbiSegments(words, finalVocab, maxPieceLen = 3)
    val totalPieces = seg.select(explode(col("pieces"))).count()
    assert(totalPieces > 0)
    // determinism: rerun is bit-identical (pure function of the input)
    val (trace2, _) = Unigram.unigramTrain(words,
      maxPieceLen = 3, seedMultiChar = 8, keepMultiChar = 3,
      emBeforePrune = 2, emAfterPrune = 1, maxWordLen = 12)
    val k = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))
    assert(trace2.collect().map(k).sortBy(x => (x._1, x._2)).toSeq ==
      t.map(k).sortBy(x => (x._1, x._2)).toSeq)
  }

  test("EM counts: unused vocab pieces kept at zero, usage is freq-weighted") {
    // vocab has 'zz' which no word can use → cnt 0, still present.
    val words = Seq(("aa", 3L), ("ab", 2L)).toDF("word", "freq")
    val v = vocab("a" -> 1L, "b" -> 1L, "aa" -> 50L, "zz" -> 50L)
    val cnts = emCounts(words, v, maxPieceLen = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cnts("zz") == 0L)
    assert(cnts("aa") == 3L)  // "aa" → [aa] (one big piece wins)
    assert(cnts("a") == 2L)   // "ab" → [a, b]
    assert(cnts("b") == 2L)
  }

  test("loud refusals: uncoverable word; null/empty word") {
    val v = vocab("a" -> 1L, "b" -> 1L)
    val e = intercept[Exception] {
      Unigram.viterbiSegments(Seq(("axb", 1L)).toDF("word", "freq"), v, 2).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("not coverable"))
    val e2 = intercept[Exception] {
      Unigram.viterbiSegments(Seq(("", 1L)).toDF("word", "freq"), v, 2).collect()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("null/empty"))
  }
}
