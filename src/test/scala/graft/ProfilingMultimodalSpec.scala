package graft

import org.apache.spark.sql.functions._
import graft.ops.{Multimodal, Profiling}

/** Round-7 profiling + multimodal additions: autocorrelation,
  * winsorized stats, and the BMP→imageio→dHash chain.
  */
class ProfilingMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("autocorr: exact 1e6 ppm at the true period of a planted cycle") {
    val series = (0L until 30L).map(t => (t, 10L * (1 + t % 3))).toDF("t", "x")
    val got = Profiling.autocorr(series, col("t"), col("x"), Seq(1, 2, 3))
      .collect().map(r => r.getInt(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(got(3) == (1000000L, 1))        // perfect period-3 autocorrelation
    assert(got(1)._1 < 1000000L)
    assert(got(2)._1 < 1000000L)
  }

  test("winsorizedStats matches an independent local computation") {
    val vals = (1 to 40).map(i => (i.toLong, ((i * 37) % 100 + 1).toLong))
    val df = vals.toDF("id", "v")
    val row = Profiling.winsorizedStats(
        df.withColumn("g", lit("a")), Seq("g"), "id", col("v"), 5, 95)
      .head()
    val sorted = vals.sortBy { case (id, v) => (v, id) }.map(_._2)
    val n = sorted.length
    val lo = sorted((5 * n + 99) / 100 - 1)
    val hi = sorted((95 * n + 99) / 100 - 1)
    assert(row.getLong(1) == n)
    assert(row.getLong(2) == lo && row.getLong(3) == hi)
    assert(row.getLong(4) == sorted.count(_ < lo))
    assert(row.getLong(5) == sorted.count(_ > hi))
    assert(row.getLong(6) == sorted.map(v => math.max(lo, math.min(hi, v))).sum)
  }

  test("seasonalDecompose recovers a planted additive pattern exactly") {
    val series = (0L until 70L).map(t => (t, 100L + 10L * (t % 7))).toDF("t", "x")
    val got = Profiling.seasonalDecompose(series, col("t"), col("x"), 7)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // any full 7-window sums to 7·100 + 10·21 → trend = 130 everywhere;
    // resid(phase) = 100 + 10·phase − 130, constant per phase.
    for (phase <- 0L until 7L) {
      val (n, sum) = got(phase)
      assert(sum == n * (100L + 10L * phase - 130L), s"phase $phase")
    }
  }

  test("kAnonymity hand golden") {
    val df = Seq(("a", 1), ("a", 1), ("a", 1), ("b", 2), ("b", 2), ("c", 3))
      .toDF("q1", "q2")
    val got = Profiling.kAnonymity(df, Seq(col("q1"), col("q2")), k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got == Map(
      3L -> (1L, 3L, false), 2L -> (1L, 2L, true), 1L -> (1L, 1L, true)))
  }

  test("noveltyScores hand golden (exact dup scores 0, partial overlap 50%)") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "a b c x"))
      .toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.noveltyScores(docs, "doc_id", col("text"), 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      1L -> (2L, 2L, 1000000L), 2L -> (2L, 0L, 0L), 3L -> (2L, 1L, 500000L)))
  }

  /** The synthetic pixel's gray value, per pixel — the analytic form
    * of the pixels [[Multimodal.synthBmp]] writes: a gradient over the
    * per-block md5 texture keyed by `id div 10`, plus the sparse
    * brightness flip keyed by `id mod 10`.
    */
  private def synthGray(id: Long, x: Int, y: Int): Int = {
    val g = (x * 7 + y * 13 + Multimodal.blockHash(id / 10, x / 4, y / 4)) % 256
    if ((x + y * Multimodal.SynthW) % 97 == id % 10) (g + 128) % 256 else g
  }

  // Independent local dHash from the ANALYTIC pixel formula — no
  // image bytes involved; the Spark path must agree through a real
  // BMP encode + javax.imageio decode.
  private def dhashLocal(id: Long): (Long, Long) = {
    val means = Array.ofDim[Long](8, 9)
    for (r <- 0 until 8; c <- 0 until 9) {
      var s = 0L
      for (y <- r * 4 until (r + 1) * 4; x <- c * 4 until (c + 1) * 4)
        s += synthGray(id, x, y)
      means(r)(c) = s / 16
    }
    var d0 = 0L; var d1 = 0L
    for (bit <- 0 until 64) {
      val (r, c) = (bit / 8, bit % 8)
      if (means(r)(c) > means(r)(c + 1)) {
        if (bit < 32) d0 |= 1L << bit else d1 |= 1L << (bit - 32)
      }
    }
    (d0, d1)
  }

  test("imageDhash through real BMP bytes equals the analytic hash") {
    val ids = Seq(0L, 5L, 17L, 123L, 1001L)
    val df = ids.toDF("doc_id")
    val got = Multimodal.imageDhash(Multimodal.synthImageRecords(df, "doc_id"))
      .collect().map(h => h.id -> h).toMap
    for (id <- ids) {
      val h = got(id)
      assert((h.width, h.height) == (36, 32), s"id $id decoded dims")
      assert((h.d0, h.d1) == dhashLocal(id), s"id $id hash")
    }
  }

  test("dHash is perceptual: same-base variants near, exact bytes differ") {
    val (a, b) = (0L, 5L) // same base 0, different sparse flips
    assert(!java.util.Arrays.equals(Multimodal.synthBmp(a), Multimodal.synthBmp(b)))
    val (a0, a1) = dhashLocal(a)
    val (b0, b1) = dhashLocal(b)
    val dist = java.lang.Long.bitCount(a0 ^ b0) + java.lang.Long.bitCount(a1 ^ b1)
    assert(dist <= 16, s"same-base perceptual distance was $dist")
  }

  test("fkIntegrity hand golden: orphans, nulls, unreferenced parents") {
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(9L), None)
      .toDF("fk") // 9 is an orphan, one null FK
    val parent = Seq(1L, 2L, 3L).toDF("pk") // 3 is unreferenced
    val r = Profiling.fkIntegrity(child, col("fk"), parent, col("pk"), "t").head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6)) == ((4L, 1L, 1L, 1L, 2L, 1L)))
  }

  test("joinSizeEstimate predicts the exact join cardinality") {
    val l = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val r = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val row = Profiling.joinSizeEstimate(l, col("o_custkey"), r, col("c_custkey"), "x").head()
    val actual = l.join(r, col("o_custkey") === col("c_custkey")).count()
    assert(row.getLong(2) == actual)
  }

  test("equiDepthHistogram: equal counts (±1), coverage, ordered bounds") {
    val df = (1L to 103L).map(i => (i, i * 7 % 1000)).toDF("id", "v")
      .withColumn("g", lit("x"))
    val rows = Profiling.equiDepthHistogram(df, Seq("g"), "id", col("v"), 8)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.map(_._2).sum == 103L)
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1)
    assert(rows.sliding(2).forall { case Array(a, b) => a._4 <= b._3; case _ => true })
  }

  test("benfordProfile: exact counts and shared expectation table") {
    val df = Seq(1L, 19L, 100L, 2L, 25L, 31L, 999L).toDF("v")
    val got = Profiling.benfordProfile(df, col("v"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(got(1) == (3L, Profiling.benfordExpectedPpm(0)))
    assert(got(2) == (2L, Profiling.benfordExpectedPpm(1)))
    assert(got(3) == (1L, Profiling.benfordExpectedPpm(2)))
    assert(got(9) == (1L, Profiling.benfordExpectedPpm(8)))
    assert(Profiling.benfordExpectedPpm.head == 301029L) // log10(2) floor
  }

  test("cusum prefix form equals the sequential recurrence") {
    // hand: x = [5,5,20,5], slack 10 → S = [0,0,10,5]
    val series = Seq((0L, 5L), (1L, 5L), (2L, 20L), (3L, 5L)).toDF("t", "x")
    val got = Profiling.cusum(series, col("t"), col("x"), slack = 10L, threshold = 10L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(got == Map(0L -> (0L, false), 1L -> (0L, false),
      2L -> (10L, true), 3L -> (5L, false)))
    // property: prefix closed form == the sequential fold, on a
    // pseudo-random series
    val xs = (0L until 200L).map(t => (t, (t * 37 % 23) - 3))
    val seq = xs.scanLeft(0L) { case (s, (_, x)) => math.max(0L, s + x - 8L) }.tail
    val dist = Profiling.cusum(xs.toDF("t", "x"), col("t"), col("x"), 8L, 50L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(xs.indices.forall(i => dist(xs(i)._1) == seq(i)))
  }

  test("vocabCoverage hand golden") {
    val docs = Seq("a a a b b c", "a b d").toDF("text")
    val got = graft.ops.TextAnalysis.vocabCoverage(docs, col("text"), Seq(1, 2, 8))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // freqs: a=4, b=3, c=1, d=1; total 9
    assert(got(1) == (1L, 4L, 4L * 1000000L / 9L))
    assert(got(2) == (2L, 7L, 7L * 1000000L / 9L))
    assert(got(8) == (4L, 9L, 1000000L))
  }

  test("lDiversity hand golden: diversity histogram and risk flag") {
    // class (1): sensitive {a,a,b} → size 3, diversity 2 (risky at l=3)
    // class (2): sensitive {a,b,c} → size 3, diversity 3 (safe)
    // class (3): sensitive {a}     → size 1, diversity 1 (risky)
    val df = Seq((1, "a"), (1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "c"),
      (3, "a")).toDF("q", "s")
    val got = Profiling.lDiversity(df, Seq(col("q")), col("s"), l = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got == Map(
      (3L, 2L) -> (1L, 3L, true),
      (3L, 3L) -> (1L, 3L, false),
      (1L, 1L) -> (1L, 1L, true)))
  }

  test("calibrationBins hand golden: exact rates, clamp at the top bin") {
    // scores: 050000(bin 0, y=F), 150000(bin 1, y=T), 199999(bin 1, y=F),
    //         999999(bin 9 via clamp, y=T), 1000000→bin 9 too (least)
    val df = Seq((50000L, false), (150000L, true), (199999L, false),
      (999999L, true)).toDF("p", "y")
    val got = Profiling.calibrationBins(df, col("p"), col("y"), bins = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(0L) == (1L, 0L, 0L, 50000L))
    assert(got(1L) == (2L, 1L, 500000L, (150000L + 199999L) / 2))
    assert(got(9L) == (1L, 1L, 1000000L, 999999L))
  }

  test("cohenKappa: perfect agreement, independence, and a hand value") {
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a")).toDF("x", "y")
    assert(Profiling.cohenKappa(perfect, col("x"), col("y")).head().getLong(2)
      == 1000000L)
    // hand: 2x2 — n=100, diag=70, both marginals (50,50)
    //   po=0.70, pe=0.50 → kappa = (0.70-0.50)/(1-0.50) = 0.4 exactly
    val rows = Seq.fill(35)(("p", "p")) ++ Seq.fill(15)(("p", "n")) ++
      Seq.fill(15)(("n", "p")) ++ Seq.fill(35)(("n", "n"))
    val k = Profiling.cohenKappa(rows.toDF("x", "y"), col("x"), col("y")).head()
    assert(k.getLong(0) == 100L && k.getLong(1) == 70L)
    assert(k.getLong(2) == 400000L)
    // degenerate: both labelers constant → den = 0 → NULL, not a crash
    val const = Seq(("a", "a"), ("a", "a")).toDF("x", "y")
    assert(Profiling.cohenKappa(const, col("x"), col("y")).head().isNullAt(2))
  }

  test("cdcChunks: coverage, determinism, and shift robustness") {
    val T = graft.ops.TextAnalysis
    // Tokens must be aperiodic: a first cut used w(i·7 mod 83) and the
    // 83-periodic stream produced only 13 DISTINCT chunks (boundaries
    // are content-local, so they repeat with the content) — the
    // set-intersection check then compared near-empty sets.
    val text = (1 to 400).map(i => s"w${i * i % 997}x$i").mkString(" ")
    val base = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = T.cdcChunks(base, "doc_id", col("text"), 4, 16)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    // chunks cover the document exactly
    assert(chunks.map(_._2).sum == 400L)
    assert(chunks.length > 3, s"only ${chunks.length} chunks — divisor too big?")
    // SHIFT ROBUSTNESS: prepend 3 tokens; all chunk hashes after the
    // first boundary resynchronize (content-defined, not offset-based)
    val shifted = Seq((1L, "zz1 zz2 zz3 " + text)).toDF("doc_id", "text")
    val shiftedHashes = T.cdcChunks(shifted, "doc_id", col("text"), 4, 16)
      .collect().map(r => r.getString(3)).toSet
    val common = chunks.map(_._3).toSet.intersect(shiftedHashes)
    assert(common.size >= chunks.length - 2,
      s"only ${common.size}/${chunks.length} chunk hashes survived the shift")
    // empty-ish doc: shorter than one window → a single chunk
    val tiny = T.cdcChunks(Seq((2L, "a b")).toDF("doc_id", "text"),
      "doc_id", col("text"), 4, 16).collect()
    assert(tiny.length == 1 && tiny.head.getLong(2) == 2L)
  }

  test("audio tone DFT: planted bin dominates through the WAV roundtrip") {
    val ids = (0L to 7L).map(Tuple1(_)).toDF("doc_id")
    val recs = Multimodal.synthToneRecords(ids, "doc_id")
    val smp = Multimodal.decodeAudioSamples(recs).filter(col("pos") >= 0)
    val tab = typedLit(Multimodal.CosTable64)
    val sums = smp.select(col("id"), col("pos"), col("sample"),
        explode(sequence(lit(1L), lit(8L))).as("bin"))
      .groupBy("id", "bin")
      .agg(sum(col("sample") *
          element_at(tab, ((col("bin") * col("pos")) % 64 + 1).cast("int"))).as("c"),
        sum(col("sample") *
          element_at(tab, ((col("bin") * col("pos") + 48) % 64 + 1).cast("int"))).as("s"))
      .withColumn("p", col("c") * col("c") + col("s") * col("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(4)).toMap
    (0L to 7L).foreach { id =>
      val planted = 1 + id % 8
      val best = (1L to 8L).maxBy(b => sums((id, b)))
      assert(best == planted, s"id $id: dominant $best != planted $planted")
      // orthogonality: the planted bin carries ≥ 100x any other bin
      (1L to 8L).filter(_ != planted).foreach { b =>
        assert(sums((id, planted)) > 100L * math.max(sums((id, b)), 1L))
      }
    }
  }

  test("modularity hand goldens: two triangles, one blob, negative Q") {
    val G = graft.ops.Graphs
    // two triangles {1,2,3} and {4,5,6} bridged by 3-4
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("src", "dst")
    val comm = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L), (6L, 2L))
      .toDF("id", "community")
    val r = G.modularity(tri, comm).head()
    // 2m=14, W=12, d_c=7 each → Q = (14*12-98)/196 = 70/196 = 0.357142...
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((6L, 2L, 7L, 12L, 357142L)))
    // everything one community → Q = 0 exactly
    val one = comm.select(col("id"), lit(9L).as("community"))
    assert(G.modularity(tri, one).head().getLong(4) == 0L)
    // singleton communities on one edge → Q = -1/2 exactly
    val edge = Seq((1L, 2L)).toDF("src", "dst")
    val singles = Seq((1L, 1L), (2L, 2L)).toDF("id", "community")
    assert(G.modularity(edge, singles).head().getLong(4) == -500000L)
  }

  test("imageDhash sentinel on corrupt payloads") {
    val recs = Seq(Multimodal.MediaRecord(7L, Array[Byte](1, 2, 3), "image/bmp", Map()))
      .toDS()
    val h = Multimodal.imageDhash(recs).head()
    assert((h.width, h.height, h.d0, h.d1) == (-1, -1, 0L, 0L))
  }

  test("rocAuc: perfect, random-tie, hand value, and degenerate inputs") {
    // perfect separation: every positive outscores every negative
    val perfect = Seq((10L, true), (9L, true), (1L, false), (0L, false))
      .toDF("s", "y")
    assert(Profiling.rocAuc(perfect, col("s"), col("y")).head().getLong(3)
      == 1000000L)
    // all scores tied → AUC is exactly 1/2 (ties count half)
    val tied = Seq((5L, true), (5L, false), (5L, true), (5L, false))
      .toDF("s", "y")
    assert(Profiling.rocAuc(tied, col("s"), col("y")).head().getLong(3)
      == 500000L)
    // hand: pos {3,1}, neg {2,0} → wins 3 of 4 pairs → 750000
    val hand = Seq((3L, true), (1L, true), (2L, false), (0L, false))
      .toDF("s", "y")
    val r = Profiling.rocAuc(hand, col("s"), col("y")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == (4L, 2L, 2L, 750000L))
    // one empty class → NULL, not a crash
    val onlyPos = Seq((1L, true), (2L, true)).toDF("s", "y")
    assert(Profiling.rocAuc(onlyPos, col("s"), col("y")).head().isNullAt(3))
  }

  test("ksTest: identical, disjoint, and hand ECDF distance") {
    val a = Seq(1L, 1L, 2L).toDF("v")
    // identical samples → D = 0
    assert(Profiling.ksTest(a, col("v"), a, col("v")).head().getLong(2) == 0L)
    // disjoint supports → D = 1e6
    val hi = Seq(10L, 11L).toDF("v")
    assert(Profiling.ksTest(a, col("v"), hi, col("v")).head().getLong(2)
      == 1000000L)
    // hand: a={1,1,2}, b={2,3} → Fa(1)=2/3, Fb(1)=0 → D=666666 at v=1
    val b = Seq(2L, 3L).toDF("v")
    val r = Profiling.ksTest(a, col("v"), b, col("v")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == (3L, 2L, 666666L, 1L))
  }

  test("giniConcentration: uniform→0, concentrated, and hand value") {
    val even = Seq(("a", 5L), ("b", 5L), ("c", 5L), ("d", 5L)).toDF("k", "w")
    val e = Profiling.giniConcentration(even, col("k"), col("w")).head()
    assert((e.getLong(0), e.getLong(1), e.getLong(2), e.getLong(3))
      == (4L, 20L, 0L, 250000L))
    // all mass on one of 4 keys → G = (n-1)/n = 750000
    val onekey = Seq(("a", 0L), ("b", 0L), ("c", 0L), ("d", 8L)).toDF("k", "w")
    val o = Profiling.giniConcentration(onekey, col("k"), col("w")).head()
    assert(o.getLong(2) == 750000L && o.getLong(3) == 1000000L)
    // hand: weights 1,2,3,4 → G = 1/4, top share 4/10
    val handg = Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)).toDF("k", "w")
    val h2 = Profiling.giniConcentration(handg, col("k"), col("w")).head()
    assert(h2.getLong(2) == 250000L && h2.getLong(3) == 400000L)
  }

  test("randomizedResponse: exact md5 coins and the debias identity") {
    val ids = 0L until 200L
    val df = ids.map(i => (i, i % 4 == 0)).toDF("id", "x")
      .withColumn("g", lit("all"))
    def coin(i: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"rr:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000000L
    }
    val p = 250000L
    val nRep = ids.count(i => (i % 4 == 0) != (coin(i) < p)).toLong
    val obs = nRep * 1000000L / 200L
    val num = (obs - p) * 1000000L
    val est = (num - num % 500000L) / 500000L
    val r = Profiling.randomizedResponse(df, col("g"), col("x"), col("id"), p)
      .head()
    assert(r.getLong(1) == 200L && r.getLong(2) == nRep)
    assert(r.getLong(3) == obs && r.getLong(4) == est)
  }

  test("prf1: hand confusion quadrants and floor-ppm P/R/F1") {
    // scores 0..9, label = score >= 6 except one noisy row (score 8, neg)
    val rows = (0L until 10L).map(s => (s, s >= 6 && s != 8))
    val got = Profiling.prf1(rows.toDF("s", "y"), col("s"), col("y"),
        Seq(5L, 100L))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5),
          if (r.isNullAt(6)) -1L else r.getLong(6),
          if (r.isNullAt(7)) -1L else r.getLong(7))).toMap
    // t=5: predicted {5..9}, actual {6,7,9} → tp=3 fp=2 fn=0 tn=5
    assert(got(5L) == (3L, 2L, 0L, 5L, 600000L, 1000000L, 750000L))
    // t=100: nothing predicted → precision NULL, recall 0, f1 0
    assert(got(100L) == (0L, 0L, 3L, 7L, -1L, 0L, 0L))
  }

  test("mcnemar: hand discordant counts and chi2_milli") {
    // truth all-true; A right on 0-7, B right on 4-7 → both=4,
    // b (A-only) = 4, c (B-only) = 0, neither = 2
    val rows = (0L until 10L).map { i =>
      (true, i < 8, i >= 4 && i < 8) // A: 0-7, B: 4-7
    }
    val r = Profiling.mcnemar(rows.toDF("y", "pa", "pb"),
      col("y"), col("pa"), col("pb")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == (10L, 4L, 4L, 0L, 2L))
    assert(r.getLong(5) == 4000L) // (4-0)^2*1000/4
    // no disagreement → NULL statistic
    val same = Seq((true, true, true), (false, true, true))
      .toDF("y", "pa", "pb")
    assert(Profiling.mcnemar(same, col("y"), col("pa"), col("pb"))
      .head().isNullAt(5))
  }

  test("oddsRatioMH: hand 2x2 per stratum and the pooled estimate") {
    // stratum s1: a=2 b=1 c=1 d=2 → OR = 4.0; n=6
    // stratum s2: a=1 b=2 c=2 d=1 → OR = 0.25; n=6
    val rows =
      Seq.fill(2)(("s1", true, true)) ++ Seq(("s1", true, false)) ++
      Seq(("s1", false, true)) ++ Seq.fill(2)(("s1", false, false)) ++
      Seq(("s2", true, true)) ++ Seq.fill(2)(("s2", true, false)) ++
      Seq.fill(2)(("s2", false, true)) ++ Seq(("s2", false, false))
    val got = Profiling.oddsRatioMH(rows.toDF("g", "e", "o"),
        col("g"), col("e"), col("o"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) -1L else r.getLong(5))).toMap
    assert(got("s1") == (2L, 1L, 1L, 2L, 4000000L))
    assert(got("s2") == (1L, 2L, 2L, 1L, 250000L))
    // pooled: sn = (2*2*1e6)//6 + (1*1*1e6)//6 = 666666+166666
    //         sd = (1*1*1e6)//6 + (2*2*1e6)//6 = 166666+666666
    // OR_MH = 833332*1e6 // 833332 = 1000000 (symmetric strata cancel)
    assert(got("__pooled__") == (3L, 3L, 3L, 3L, 1000000L))
  }

  test("tCloseness: matching class→0, skewed classes→|Δcum|/(m-1)") {
    // global: cats {0,1} at 4/4 (y's zeros balance z's ones).
    // class "x": identical 50/50 mix → EMD 0; class "y": all cat 0 →
    // |1e6-5e5| = 500000; class "z": all cat 1 → |0-5e5| = 500000.
    val df = (Seq(("x", 0L), ("x", 1L), ("x", 0L), ("x", 1L)) ++
      Seq(("y", 0L), ("y", 0L)) ++ Seq(("z", 1L), ("z", 1L))).toDF("g", "c")
    val got = Profiling.tCloseness(df, Seq(col("g")), col("c"), tPpm = 200000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got("x") == (4L, 0L, false))
    assert(got("y") == (2L, 500000L, true))
    assert(got("z") == (2L, 500000L, true))
  }

  test("confusionMatrix: hand cells, marginals, floor-ppm recall/precision") {
    val df = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"),
      ("c", "a")).toDF("y", "p")
    val got = Profiling.confusionMatrix(df, col("y"), col("p"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(got.size == 4)
    assert(got(("a", "a")) == (2L, 3L, 3L, 666666L, 666666L))
    assert(got(("a", "b")) == (1L, 3L, 3L, 333333L, 333333L))
    assert(got(("b", "b")) == (2L, 2L, 3L, 1000000L, 666666L))
    assert(got(("c", "a")) == (1L, 1L, 3L, 1000000L, 333333L))
  }

  test("theilSen: outlier-proof median slope, negatives, truncation") {
    val df = (Seq((0L, 0L), (1L, 10L), (2L, 20L), (3L, 1000L)).map(("g1", _)) ++
      Seq((0L, 10L), (1L, 7L), (2L, 4L)).map(("g2", _)) ++
      Seq((0L, 0L), (3L, -7L)).map(("g3", _)))
      .map { case (g, (t, x)) => (g, t, x) }.toDF("g", "t", "x")
    val got = Profiling.theilSen(df, Seq("g"), col("t"), col("x"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // g1: one wild outlier day; the median slope ignores it entirely
    assert(got("g1") == (6L, 10000000L))
    // g2: clean negative trend
    assert(got("g2") == (3L, -3000000L))
    // g3: -7e6 div 3 truncates toward zero (both engines) → -2333333
    assert(got("g3") == (1L, -2333333L))
  }

  test("mutualInfo matches the local floor-primitive decomposition") {
    def f(c: Long): Long = math.floor(math.log(c.toDouble) * c * 1e6).toLong
    val rows = Seq.fill(3)(("x", "p")) ++ Seq(("x", "q")) ++
      Seq.fill(4)(("y", "q"))
    val r = Profiling.mutualInfo(rows.toDF("a", "b"), col("a"), col("b")).head()
    val expected = (f(3) + f(1) + f(4)) + f(8) - (f(4) + f(4)) - (f(3) + f(5))
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (8L, 3L, expected))
    assert(expected > 0L) // a and b are correlated
    // independent 2x2 uniform → zero up to the per-term floor noise
    // (f(4) − 4·f(2) = 1 µnat exactly: ⌊4ln4·10⁶⌋ − 4⌊2ln2·10⁶⌋)
    val ind = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
    assert(Profiling.mutualInfo(ind.toDF("a", "b"), col("a"), col("b"))
      .head().getLong(2) == f(4) - 4 * f(2))
  }

  test("rollingMedian: lower median over a trailing-3 frame") {
    val df = Seq((0L, 5L), (1L, 1L), (2L, 4L), (3L, 2L), (4L, 3L), (5L, 9L))
      .toDF("t", "x")
    val got = graft.ops.Windows.rollingMedian(df, Seq.empty, col("t"), col("x"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(0L -> 5L, 1L -> 1L, 2L -> 4L, 3L -> 2L, 4L -> 3L,
      5L -> 3L))
  }

  test("ewmaTrunc: exact lag weights with warm-up renormalization") {
    val df = Seq((0L, 10L), (1L, 20L), (2L, 30L)).toDF("t", "x")
    val got = graft.ops.Windows.ewmaTrunc(df, Seq.empty, col("t"), col("x"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // k=3 weights 4/2/1: t0 40/4, t1 (80+20)/6, t2 (120+40+10)/7
    assert(got == Map(0L -> 10000L, 1L -> 16666L, 2L -> 24285L))
    // negative values truncate toward zero, same as the oracle's //
    val neg = graft.ops.Windows.ewmaTrunc(
      Seq((0L, -7L), (1L, -7L)).toDF("t", "x"), Seq.empty, col("t"), col("x"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(neg == Map(0L -> -7000L, 1L -> -7000L))
  }

  test("infoGain agrees with per-feature mutualInfo; leaky feature tops") {
    val df = (1 to 60).map { i =>
      (i % 2 == 0, s"band${i % 2}", s"pri${i % 5}") }
      .toDF("y", "leaky", "noise")
    val ig = Profiling.infoGain(df, col("y"),
        Seq("leaky" -> col("leaky"), "noise" -> col("noise")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for ((name, c) <- Seq("leaky" -> col("leaky"), "noise" -> col("noise"))) {
      val mi = Profiling.mutualInfo(df, c, col("y")).head()
      assert(ig(name) == ((mi.getLong(0), mi.getLong(1), mi.getLong(2))))
    }
    // the label-equivalent feature carries ~n·H(y)·1e6 ≈ 60·ln2·1e6
    assert(ig("leaky")._3 > 40000000L)
    assert(math.abs(ig("noise")._3) < 100L)
  }

  test("sampleRatioMismatch: hand chi-square, missing variant counts as 0") {
    val df = (Seq.fill(60)("A") ++ Seq.fill(40)("B")).toDF("v")
    val r = Profiling.sampleRatioMismatch(df, col("v"),
      Seq("A" -> 1L, "B" -> 1L)).head()
    // e=50 per cell: ((60-50)^2/50 + (40-50)^2/50) = 4.0 → 4000 milli
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (100L, 2L, 1L, 4000L))
    // all mass in A, B expected but absent → chi2 = 10.0
    val onlyA = Seq.fill(10)("A").toDF("v")
    val m = Profiling.sampleRatioMismatch(onlyA, col("v"),
      Seq("A" -> 1L, "B" -> 1L)).head()
    assert((m.getLong(0), m.getLong(3)) == (10L, 10000L))
    // the CONVERSE — an observed bucket with no expected weight (a
    // classic SRM cause) — must raise, not silently vanish from n/chi2
    val rogue = (Seq.fill(5)("A") ++ Seq.fill(5)("C")).toDF("v")
    val ex = intercept[Exception] {
      Profiling.sampleRatioMismatch(rogue, col("v"),
        Seq("A" -> 1L, "B" -> 1L)).head()
    }
    assert(ex.getMessage.contains("no expected weight"))
  }

  test("cuped: perfectly-correlated covariate equalizes variant means") {
    val df = Seq(("A", 20L, 10L), ("A", 40L, 20L), ("B", 60L, 30L))
      .toDF("v", "y", "x")
    val got = Profiling.cuped(df, col("v"), col("y"), col("x"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // y = 2x exactly → theta = 2e6 ppm; both variants adjust to the
    // pooled mean 40000 milli
    assert(got("A") == (2L, 30000L, 2000000L, 40000L))
    assert(got("B") == (1L, 60000L, 2000000L, 40000L))
  }

  test("weightedKappa: perfect agreement 1e6, total gross miss -1e6") {
    val agree = Seq((0L, 0L), (0L, 0L), (4L, 4L), (4L, 4L)).toDF("a", "b")
    val a = Profiling.weightedKappa(agree, col("a"), col("b")).head()
    assert((a.getLong(0), a.getLong(1), a.getLong(2)) == (4L, 0L, 1000000L))
    val miss = Seq((0L, 4L), (4L, 0L)).toDF("a", "b")
    val m = Profiling.weightedKappa(miss, col("a"), col("b")).head()
    assert((m.getLong(0), m.getLong(1), m.getLong(2)) == (2L, 8L, -1000000L))
    // near-misses hurt less: off-by-one on a 0-4 scale keeps kappa_w
    // far above the all-gross-miss floor
    val near = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val n = Profiling.weightedKappa(near, col("a"), col("b")).head()
    assert(n.getLong(2) > 0L)
  }

  test("dpGeometricHistogram: geometric trailing-ones noise, clamped, stable") {
    val df = (Seq.fill(7)("x") ++ Seq.fill(2)("y")).toDF("k")
    def run() = Profiling.dpGeometricHistogram(df, col("k"), "t:")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = run()
    // reproducible: the noise is a pure function of (seed, cell)
    assert(run() == got)
    got.foreach { case (_, (n, noise, dpN)) =>
      assert(dpN == math.max(n + noise, 0L))
      assert(noise > -60 && noise < 60) // trailing-ones of a 60-bit word
    }
    assert(got("x")._1 == 7L && got("y")._1 == 2L)
    // different seed → (almost surely) different draw for some cell;
    // at minimum it must still satisfy the clamp identity
    val other = Profiling.dpGeometricHistogram(df, col("k"), "u:")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    other.foreach { case (n, noise, dpN) =>
      assert(dpN == math.max(n + noise, 0L)) }
  }

  test("quantileNormalize: groups map onto the pooled per-rank profile") {
    val df = (Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L)) ++
      Seq(("b", 4L, 100L), ("b", 5L, 200L), ("b", 6L, 300L)))
      .toDF("g", "id", "v")
    val got = Profiling.quantileNormalize(df, "g", "id", col("v"))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    // rank profile: (10+100)/2=55, (20+200)/2=110, (30+300)/2=165
    assert(got == Map(1L -> 55L, 4L -> 55L, 2L -> 110L, 5L -> 110L,
      3L -> 165L, 6L -> 165L))
    // unequal sizes: the extra rank averages over the one group that has it
    val uneq = (Seq(("a", 1L, 10L)) ++ Seq(("b", 2L, 100L), ("b", 3L, 300L)))
      .toDF("g", "id", "v")
    val g2 = Profiling.quantileNormalize(uneq, "g", "id", col("v"))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(g2 == Map(1L -> 55L, 2L -> 55L, 3L -> 300L))
  }

  test("funnelLatency: first-from to first-to-after, non-converters absent") {
    val ev = Seq(
      (1L, "view", 100L), (1L, "view", 900L), (1L, "purchase", 400L),
      (2L, "purchase", 50L), (2L, "view", 80L), // purchase BEFORE view only
      (3L, "view", 10L)) // never purchases
      .toDF("u", "t", "ts")
    val got = graft.ops.Windows.funnelLatency(ev, "u", "t", "ts",
        "view", "purchase")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(1L -> (100L, 300L)))
  }

  test("sessionPaths: gap splits sessions, tie-broken order, top-k") {
    val ev = Seq(
      // user 1, one session: a>b>c (ties on t=20 broken by id 21<22)
      (1L, "a", 10L, 11L), (1L, "b", 20L, 21L), (1L, "c", 20L, 22L),
      // user 1, second session after the gap: a>b
      (1L, "a", 500L, 31L), (1L, "b", 510L, 32L),
      // user 2: a>b
      (2L, "a", 5L, 41L), (2L, "b", 6L, 42L))
      .toDF("u", "e", "t", "i")
    val got = graft.ops.Windows.sessionPaths(ev, "u", "e", "t", "i",
        maxGap = 100L, pathLen = 5, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a>b", 2L), ("a>b>c", 1L)))
  }

  test("cohortLtv: exact cents accumulate over cohort age") {
    val week = 7L * 86400L * 1000000L
    val ev = Seq(
      (1L, 0L, 100L), (1L, week + 1L, 50L),        // cohort 0, ages 0 and 1
      (2L, week + 2L, 30L), (2L, week + 3L, 20L))  // cohort 1, age 0
      .toDF("u", "t", "cents")
    val got = graft.ops.Windows.cohortLtv(ev, "u", "t", col("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(
      (0L, 0L) -> (1L, 100L, 100L),
      (0L, 1L) -> (1L, 50L, 150L),
      (1L, 0L) -> (1L, 50L, 50L)))
  }

  test("smoothedRates: shrinkage reorders low-n keys below steady ones") {
    // raw: lucky 1/1 = 1e6 ppm beats steady 98/100; smoothed with
    // Beta(5,95) it must NOT
    val df = (Seq(("lucky", true)) ++
      Seq.fill(98)(("steady", true)) ++ Seq.fill(2)(("steady", false)))
      .toDF("k", "p")
    val got = Profiling.smoothedRates(df, col("k"), col("p"), 5L, 95L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got("lucky") == (1L, 1L, 1000000L, 6L * 1000000L / 101L, 2L))
    assert(got("steady") == (100L, 98L, 980000L, 103L * 1000000L / 200L, 1L))
  }

  test("seasonalNaiveMase: planted period beats naive; flat series ties") {
    // x = 1,3,5 repeating with period 3: seasonal errors are all 0
    val per = (0L until 12L).map(t => (t, 1L + (t % 3) * 2L)).toDF("t", "x")
    val r = Profiling.seasonalNaiveMase(per, col("t"), col("x"), 3).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(4)) == (9L, 0L, 0L))
    // strictly linear series: |x_t - x_{t-p}| = p, |x_t - x_{t-1}| = 1
    // over equal-length supports → MASE = p
    val lin = (0L until 20L).map(t => (t, t * 10L)).toDF("t", "x")
    val l = Profiling.seasonalNaiveMase(lin, col("t"), col("x"), 4).head()
    // sums: seasonal 640 over 16 pts, naive 190 over 19 pts →
    // (640·19·1e6) div (190·16) = exactly 4e6 = the period, as theory says
    assert((l.getLong(0), l.getLong(1), l.getLong(2), l.getLong(3),
      l.getLong(4)) == (16L, 640L, 19L, 190L, 4000000L))
  }

  test("captureRecapture: Chapman estimate and implied recalls") {
    import graft.ops.Dedup
    // truth: 6 pairs; A catches 4, B catches 3, overlap 2
    val a = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)).toDF("id_a", "id_b")
    val b = Seq((2L, 1L), (3L, 4L), (9L, 10L)).toDF("id_a", "id_b")
    val r = Dedup.captureRecapture(a, b).head()
    // Chapman: (5*4) div 3 - 1 = 5
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (4L, 3L, 2L, 5L))
    assert((r.getLong(4), r.getLong(5)) == (800000L, 600000L))
    // duplicates + reversed orientation collapse before counting
    val messy = Seq((2L, 1L), (1L, 2L), (1L, 2L)).toDF("id_a", "id_b")
    assert(Dedup.captureRecapture(messy, messy).head().getLong(2) == 1L)
    // inputsCanonical skips the normalization pass: on already-distinct
    // id_a < id_b inputs the whole output row is identical to the
    // default path's (round-16 q_dedup_capture optimization)
    val ca = Seq((1L, 2L), (3L, 4L), (5L, 6L), (7L, 8L)).toDF("id_a", "id_b")
    val cb = Seq((1L, 2L), (3L, 4L), (9L, 10L)).toDF("id_a", "id_b")
    assert(Dedup.captureRecapture(ca, cb, inputsCanonical = true).head() ==
      Dedup.captureRecapture(ca, cb).head())
  }

  test("lorenzCurve: uniform weights are the diagonal; planted skew bends it") {
    val even = (1 to 100).map(i => (s"k$i", 10L)).toDF("k", "w")
    val g1 = Profiling.lorenzCurve(even, col("k"), col("w"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    (1 to 10).foreach(d => assert(g1(d.toLong) == d * 100000L))
    // one key holds half the mass → bottom 9 deciles hold ~50%·(9/10 of rest)
    val skew = ((1 to 99).map(i => (s"k$i", 10L)) :+ ("big", 990L)).toDF("k", "w")
    val g2 = Profiling.lorenzCurve(skew, col("k"), col("w"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(g2(10L) == 1000000L)
    assert(g2(9L) == 900L * 1000000L / 1980L) // bottom 90 keys: 900 of 1980
  }

  test("weeklyChurn: exact per-week churn, last week excluded") {
    val wk = 7L * 86400L * 1000000L
    val ev = Seq(
      (1L, 0L), (1L, wk), (1L, 2 * wk), // survives every week
      (2L, 0L),                         // churns after week 0
      (3L, 0L), (3L, wk))               // churns after week 1
      .toDF("u", "t")
    val got = graft.ops.Windows.weeklyChurn(ev, "u", "t")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // week 2 (the max week) must be absent — churn not yet observable
    assert(got == Map(
      0L -> (3L, 1L, 333333L),
      1L -> (2L, 1L, 500000L)))
  }

  test("classBalance: rare class fully kept, thresholds exact, deterministic") {
    val df = ((1 to 100).map(i => (i.toLong, "a")) ++
      (101 to 110).map(i => (i.toLong, "b"))).toDF("id", "cls")
    def run() = graft.ops.Sampling.classBalance(df, col("cls"),
      concat(lit("k:"), col("id").cast("string")))
    val kept = run().collect()
    val byClass = kept.groupBy(_.getAs[String]("class"))
    // thresholds: m=10 → a keeps at 100000 ppm, b at 1000000 ppm (all)
    assert(kept.forall(r => r.getAs[Long]("keep_ppm") ==
      (if (r.getAs[String]("class") == "a") 100000L else 1000000L)))
    assert(byClass("b").length == 10)
    assert(byClass.getOrElse("a", Array.empty).length < 100)
    // stable: the kept SET never changes between runs
    assert(run().collect().map(_.getAs[Long]("id")).sorted.toSeq ==
      kept.map(_.getAs[Long]("id")).sorted.toSeq)
  }
}
