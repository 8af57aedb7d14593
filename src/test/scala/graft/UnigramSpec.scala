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

  // ---- soft EM (Kudo 2018 §3's actual E-step; the EM.scala
  // discipline: float model math checked against an independent
  // driver-side reference within tolerance, never oracle-hashed) ----

  /** Independent driver-side forward–backward: expected piece counts
    * summed over ALL segmentations, plain Scala, NegativeInfinity for
    * unreachable (no sentinel arithmetic shared with the engine path).
    */
  private def refSoftCounts(words: Seq[(String, Long)],
      vocab: Map[String, Double], maxPieceLen: Int): Map[String, Double] = {
    val out = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    def lseS(xs: Seq[Double]): Double =
      if (xs.isEmpty) Double.NegativeInfinity
      else { val m = xs.max; m + math.log(xs.map(x => math.exp(x - m)).sum) }
    for ((w, f) <- words) {
      val n = w.length
      val edges = for {
        s <- 1 to n; l <- 1 to maxPieceLen
        if s + l - 1 <= n
        p = w.substring(s - 1, s + l - 1)
        lp <- vocab.get(p)
      } yield (s, s + l - 1, p, lp)
      val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
      alpha(0) = 0.0
      for (j <- 1 to n) alpha(j) = lseS(edges.collect {
        case (s, e, _, lp) if e == j && !alpha(s - 1).isNegInfinity =>
          alpha(s - 1) + lp
      })
      val beta = Array.fill(n + 1)(Double.NegativeInfinity)
      beta(n) = 0.0
      for (j <- (n - 1) to 0 by -1) beta(j) = lseS(edges.collect {
        case (s, e, _, lp) if s == j + 1 && !beta(e).isNegInfinity =>
          lp + beta(e)
      })
      val z = alpha(n)
      for ((s, e, p, lp) <- edges) {
        val post = alpha(s - 1) + lp + beta(e) - z
        if (!post.isNegInfinity && !post.isNaN) out(p) += f * math.exp(post)
      }
    }
    out.toMap
  }

  test("soft E-step matches the driver-side forward-backward within float tolerance") {
    val words = Seq(("abab", 4L), ("aba", 3L), ("bab", 2L), ("ab", 7L), ("ba", 1L))
    val v = Unigram.rescoreSoft(
      Seq(("a", 10.0), ("b", 9.0), ("ab", 6.0), ("ba", 4.0), ("bab", 2.0))
        .toDF("piece", "ecnt"))
    val vMap = v.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val got = Unigram.softEmExpectedCounts(words.toDF("word", "freq"), v, maxPieceLen = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = refSoftCounts(words, vMap, maxPieceLen = 3)
    assert(got.keySet == vMap.keySet, "soft counts must cover the whole vocab")
    got.foreach { case (p, e) =>
      val w = want.getOrElse(p, 0.0)
      assert(math.abs(e - w) <= 1e-9 * math.max(1.0, math.abs(w)),
        s"piece $p: engine $e vs reference $w")
    }
    // posterior mass conservation: per-word expected piece counts sum
    // to expected segmentation lengths, so totals stay in
    // [freq·1, freq·|word|] summed over words
    val total = got.values.sum
    val lo = words.map(_._2.toDouble).sum
    val hi = words.map { case (w, f) => f.toDouble * w.length }.sum
    assert(total >= lo - 1e-6 && total <= hi + 1e-6, s"total mass $total outside [$lo, $hi]")
  }

  test("soft splits ambiguous words fractionally where hard EM is winner-take-all") {
    // "ab" freq 2 under vocab {a, b, ab} all count 5: segmentations
    // [ab] and [a,b] both have mass. Hard EM hands the full 2 to the
    // best path [ab] (one piece, lp > 2·lp since lp < 0); soft EM
    // must give 'ab' strictly between 0 and 2 and 'a','b' the
    // complement, equal by symmetry.
    val words = Seq(("ab", 2L)).toDF("word", "freq")
    val vHard = vocab("a" -> 5L, "b" -> 5L, "ab" -> 5L)
    val hard = emCounts(words, vHard, maxPieceLen = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hard("ab") == 2L && hard("a") == 0L && hard("b") == 0L)
    val vSoft = Unigram.rescoreSoft(
      Seq(("a", 5.0), ("b", 5.0), ("ab", 5.0)).toDF("piece", "ecnt"))
    val soft = Unigram.softEmExpectedCounts(words, vSoft, maxPieceLen = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(soft("ab") > 0.0 && soft("ab") < 2.0, s"ab: ${soft("ab")}")
    assert(math.abs(soft("a") - soft("b")) < 1e-12)
    assert(soft("a") > 0.0)
    // the two paths' masses: 2·P([ab]) + 2·P([a,b]) partitions freq 2
    assert(math.abs(soft("ab") + soft("a") - 2.0) < 1e-9)
  }

  test("soft train runs the hard schedule: trace rounds, coverage, prune size") {
    val words = Seq(("banana", 10L), ("bandana", 5L), ("nab", 7L), ("ban", 9L))
      .toDF("word", "freq")
    val (trace, finalVocab) = Unigram.unigramTrainSoft(words,
      maxPieceLen = 3, seedMultiChar = 8, keepMultiChar = 3,
      emBeforePrune = 2, emAfterPrune = 1, maxWordLen = 12)
    val t = trace.collect()
    val rounds = t.map(_.getLong(0)).distinct.sorted
    assert(rounds.toSeq == Seq(0L, 1L, 2L, 3L, 4L), "seed, EM, EM, prune, EM")
    val chars = Set("a", "b", "n", "d")
    rounds.foreach { r =>
      val pieces = t.filter(_.getLong(0) == r).map(_.getString(1)).toSet
      assert(chars.subsetOf(pieces), s"round $r lost a single char")
    }
    Seq(3L, 4L).foreach { r =>
      val multi = t.filter(x => x.getLong(0) == r && x.getString(1).length > 1)
      assert(multi.length == 3, s"round $r multi-char count ${multi.length}")
    }
    val fin = finalVocab.collect().map(_.getString(0)).toSet
    assert(fin == t.filter(_.getLong(0) == 4L).map(_.getString(1)).toSet)
    // every round's expected counts are finite and non-negative
    t.foreach { r =>
      val e = r.getDouble(2)
      assert(!e.isNaN && !e.isInfinite && e >= 0.0, s"round ${r.getLong(0)} piece ${r.getString(1)} ecnt $e")
    }
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
