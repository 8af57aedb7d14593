package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Specs for the training-data pipeline operators. */
class OpsSpec extends SparkSpec {
  import spark.implicits._
  import OpsSpec._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely here now"),
    (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")

  test("text: token counts (whitespace + regex)") {
    val r = docs.select(
      TextAnalysis.tokenCountWs(col("text")).as("ws"),
      TextAnalysis.tokenCountRegex(col("text")).as("re")).head
    assert(r.getInt(0) == 9 && r.getInt(1) == 9)
    val punct = Seq(("a,b c!")).toDF("text")
      .select(TextAnalysis.tokenCountRegex(col("text"))).head.getInt(0)
    assert(punct == 5) // a , b c !
  }

  test("text: quality ratios are exact count divisions") {
    val r = docs.limit(1).select(
      TextAnalysis.qualityColumns(col("text")).map { case (n, c) => c.as(n) }: _*).head
    assert(r.getAs[Int]("n_chars") == 43)
    assert(r.getAs[Int]("n_tokens") == 9)
    assert(r.getAs[Double]("punct_ratio") == 0.0)
    assert(r.getAs[Double]("stopword_ratio") == 2.0 / 9)
  }

  test("text: language id — markers and CJK") {
    val texts = Seq(
      "the cat and the dog of a house",  // en
      "der hund und die katze ist nicht", // de
      "le chat et la maison des les",     // fr
      "el perro de la casa que los",      // es
      "中文文本",         // zh via codepoint range
      "xyzzy plugh"                        // und
    ).toDF("text")
    val got = texts.select(TextAnalysis.languageId(col("text"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "de", "fr", "es", "zh", "und"))
  }

  test("text: fingerprint deterministic, order-sensitive") {
    val fp = docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(4L)) // exact dup
    assert(fp(1L) != fp(2L))
    val rev = Seq("dog lazy the").toDF("text")
      .select(TextAnalysis.fingerprint(col("text"))).head.getLong(0)
    val fwd = Seq("the lazy dog").toDF("text")
      .select(TextAnalysis.fingerprint(col("text"))).head.getLong(0)
    assert(rev != fwd) // rolling hash is position-sensitive
  }

  test("dedup: shingles edge cases") {
    val sh = Seq("a b c d", "a b", "").toDF("text")
      .select(Dedup.shingles(col("text"), 3)).collect().map(_.getSeq[String](0))
    assert(sh(0) == Seq("a b c", "b c d"))
    assert(sh(1) == Seq()) // fewer than n tokens
    assert(sh(2) == Seq()) // empty text → [""] token → below n
  }

  test("dedup: exact summary counts duplicates") {
    val r = Dedup.exactSummary(docs, col("text")).head
    assert(r.getAs[Long]("n_docs") == 4 && r.getAs[Long]("n_unique") == 3)
  }

  test("text: codegen stopword-count/fingerprint match the interpreted HOF forms") {
    val rnd = new scala.util.Random(13)
    val vocab = TextAnalysis.DefaultStopwords ++ Seq("fox", "dog", "λambda", "", "x1")
    val texts = (0 until 80)
      .map(_ => (0 until rnd.nextInt(15)).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
      .toDF("text")
    val cmp = texts.select(
      TextAnalysis.stopwordCount(col("text")).as("sc_fast"),
      stopwordCountHof(col("text")).as("sc_slow"),
      TextAnalysis.fingerprint(col("text")).as("fp_fast"),
      fingerprintHof(col("text")).as("fp_slow")).collect()
    assert(cmp.forall(r => r.getInt(0) == r.getInt(1)))
    assert(cmp.forall(r => r.getLong(2) == r.getLong(3)))
  }

  test("dedup: codegen shingles/hashes/signature match the interpreted HOF forms") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 60).map { i =>
      val nTok = rnd.nextInt(12) // includes < n cases
      (i.toLong, (0 until nTok).map(_ => s"w${rnd.nextInt(40)}").mkString(" "))
    }.toDF("doc_id", "text")
    val toks = rows.select(col("doc_id"), split(col("text"), " ").as("toks"))
    for (n <- Seq(1, 2, 3, 5)) {
      val cmp = toks.select(
        Dedup.shinglesFromTokens(col("toks"), n).as("fast"),
        shinglesFromTokensHof(col("toks"), n).as("slow")).collect()
      assert(cmp.forall(r => r.getSeq[String](0) == r.getSeq[String](1)), s"shingles n=$n")
    }
    val sh = toks.select(array_distinct(Dedup.shinglesFromTokens(col("toks"), 2)).as("sh"))
      .filter(size(col("sh")) > 0)
    val hcmp = sh.select(
      graft.expr.TextExprs.shingle_hashes(col("sh")).as("fast"),
      transform(col("sh"), s => Dedup.shingleBaseHash(s)).as("slow")).collect()
    assert(hcmp.nonEmpty && hcmp.forall(r => r.getSeq[Long](0) == r.getSeq[Long](1)))
    val k = 6
    val withH = sh.withColumn("__h", transform(col("sh"), s => Dedup.shingleBaseHash(s)))
    val scmp = withH.select(
      graft.expr.TextExprs.minhash_signature(col("__h"), k).as("fast"),
      array(minhashSignature(col("__h"), k).map(_._2): _*).as("slow")).collect()
    assert(scmp.forall(r => r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("dedup: exact keep-list labels a 3-way duplicate group") {
    val three = Seq(
      (7L, "same text here"), (3L, "same text here"), (5L, "same text here"),
      (9L, "different text")
    ).toDF("doc_id", "text")
    val got = Dedup.exactDuplicates(three, "doc_id", col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(got == Map(3L -> true, 5L -> false, 7L -> false, 9L -> true))
    // null texts share a null digest: ONE group, min id kept — not
    // silently dropped (null-safe join key)
    val withNulls = Seq((1L, null: String), (2L, null: String), (3L, "x"))
      .toDF("doc_id", "text")
    val nk = Dedup.exactDuplicates(withNulls, "doc_id", col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(nk == Map(1L -> true, 2L -> false, 3L -> true))
    // digest column is present and equal within the dup group
    val dg = Dedup.exactDuplicates(three, "doc_id", col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("digest")).toMap
    assert(dg(3L) == dg(5L) && dg(5L) == dg(7L) && dg(3L) != dg(9L))
  }

  test("dedup: lshParams meets the recall floor at the threshold") {
    for (j <- Seq(0.3, 0.5, 0.7, 0.8, 0.9)) {
      val (k, b) = Dedup.lshParams(j)
      assert(k % b == 0, s"k=$k not divisible by bands=$b")
      assert(Dedup.lshRecall(j, k / b, b) >= 0.9, s"recall floor violated at J=$j")
    }
    // the wired configuration: J=0.5 derives (18, 9), recall ~92.5%
    assert(Dedup.lshParams(0.5) == (18, 9))
  }

  test("dedup: exact jaccard variant matches a brute-force cross join") {
    val expected = {
      val sh = Dedup.shingleSets(docs, "doc_id", col("text"), 3)
      sh.toDF("id_a", "sa").crossJoin(sh.toDF("id_b", "sb"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("j", col("inter").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("inter")))
        .filter(col("j") >= 0.5)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("j")))
        .toSet
    }
    val got = Dedup.ngramJaccardPairsExact(docs, "doc_id", col("text"), n = 3, minJaccard = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
      .toSet
    assert(got == expected && got.nonEmpty)
    // doc-frequency cap drops the universal shingle vocabulary → no pairs
    val capped = Dedup.ngramJaccardPairsExact(docs, "doc_id", col("text"), n = 3,
      minJaccard = 0.5, maxDocFreq = Some(0L))
    assert(capped.count() == 0)
  }

  test("dedup: minhashLshCandidatesCross ≡ one-table candidates restricted to cross pairs") {
    val docs = (1L to 60L).map { i =>
      val base = if (i % 3 == 0) s"shared near duplicate text body number ${i % 5} with tail"
      else s"unique document $i content ${i * 7} about topic ${i % 11} and more words here"
      (i, base)
    }.toDF("doc_id", "text")
    val sh = graft.ops.Dedup.shingleSets(docs, "doc_id", col("text"), 3)
    val isNew = (id: Long) => id % 4 == 0
    val cross = graft.ops.Dedup.minhashLshCandidatesCross(
        sh.filter(col("id") % 4 === 0), sh.filter(col("id") % 4 =!= 0),
        k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.ops.Dedup.minhashLshCandidatesFromShingles(sh, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.collect {
      case (a, b) if isNew(a) && !isNew(b) => (a, b)
      case (a, b) if isNew(b) && !isNew(a) => (b, a)
    }
    assert(cross == expected && cross.nonEmpty, s"cross=$cross expected=$expected")
    // corpus-side pairs never appear
    assert(cross.forall { case (a, b) => isNew(a) && !isNew(b) })
  }

  test("graphs: associationRules — exact confidence/lift, direction asymmetry, capped universe") {
    // baskets: {a,b} ×3, {a} ×1, {b} ×0 extra, {a,b,c} hub over cap
    val edges = Seq(
      (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"), (3L, "b"),
      (4L, "a"),
      (5L, "a"), (5L, "b"), (5L, "c")).toDF("basket", "item")
    val got = graft.ops.Graphs.associationRules(edges, maxDegree = 2, minShared = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // basket 5 (degree 3) is dropped: T=4, n_a=4, n_b=3, n_ab=3
    // conf(a→b) = 3/4; conf(b→a) = 3/3; lift = 3·4/(4·3) = 1 exactly
    assert(got(("a", "b")) == ((4L, 3L, 3L, 750000L, 1000000L)))
    assert(got(("b", "a")) == ((3L, 4L, 3L, 1000000L, 1000000L)))
    assert(!got.keySet.exists(p => p._1 == "c" || p._2 == "c"))
  }

  test("sampling: rendezvousShard — independent md5 check, resize moves ~1/(n+1)") {
    val keys = (1L to 600L).toSeq
    val df = keys.toDF("key")
    def assign(n: Int): Map[Long, Long] =
      df.select(col("key"), graft.ops.Sampling.rendezvousShard(col("key"), n).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a5 = assign(5)
    // independent Scala reimplementation of the documented weight
    def weight(k: Long, s: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$k:$s".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val expected = keys.map(k => k -> (0 until 5).maxBy(s => weight(k, s)).toLong).toMap
    assert(a5 == expected)
    // resize 5 -> 6: every key either keeps its shard or moves to the
    // NEW shard (an old shard can never win a rendezvous it lost)
    val a6 = assign(6)
    val moved = keys.count(k => a5(k) != a6(k))
    assert(keys.forall(k => a6(k) == a5(k) || a6(k) == 5L))
    // ~1/6 of keys move (binomial around 100 of 600; generous band)
    assert(moved > 55 && moved < 155, s"moved $moved of 600")
    // balance: every shard populated
    assert(a5.values.toSet == (0L until 5L).toSet)
  }

  test("clusters: goldenRecord — per-field survivorship, nulls never beat data") {
    val df = Seq(
      (1L, Some("alice"), Some(10.0), 100L),
      (1L, Some("bob"), Some(99.0), 200L),   // richest -> name survives
      (1L, None, Some(500.0), 300L),         // null name loses despite rank
      (2L, None, None, 400L),
      (2L, Some("carol"), None, 500L)
    ).toDF("cl", "name", "bal", "k")
    val got = graft.ops.Clusters.goldenRecord(df, "cl",
        Seq("name" -> col("bal"), "k" -> col("k")))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.getString(2)), r.getLong(3)))).toMap
    assert(got(1L) == ((3L, Some("bob"), 300L)))
    // all-null rank: present value still wins over the null one
    assert(got(2L) == ((2L, Some("carol"), 500L)))
  }

  test("dedup: containmentPairs flags the quoted-inside pair Jaccard misses") {
    // doc 2 contains doc 1 verbatim plus 2× more text: containment on
    // the small side is 1.0 while Jaccard is only |A|/|B| ≈ 0.33.
    val small = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1L, small),
      (2L, small + " zeta eta theta iota kappa lambda mu nu xi omicron"),
      (3L, "pi rho sigma tau upsilon")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", col("text"), n = 3,
        minContainmentPpm = 900000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // doc1: 3 trigrams, all inside doc2 (15 tokens → 13 trigrams)
    assert(got.keySet == Set((1L, 2L)))
    val (inter, sa, sb, ca, cb) = got((1L, 2L))
    assert((inter, sa, sb) == ((3L, 3L, 13L)))
    assert(ca == 1000000L && cb == (3L * 1000000L) / 13L)
    // the symmetric threshold would reject the same pair: J = 3/17
    val sym = Dedup.ngramJaccardPairsExact(docs, "doc_id", col("text"), n = 3,
      minJaccard = 0.9)
    assert(sym.count() == 0L)
  }

  test("text: tfidfCosinePairs — boilerplate drops out, identity pairs score 1e6") {
    // 'the' appears in all docs (idf 0 → weight 0): docs 1 and 2 share
    // ONLY boilerplate → pair absent; docs 1 and 3 are identical in
    // informative terms → cosine exactly 1e6.
    val docs = Seq(
      (1L, "the alpha beta"),
      (2L, "the gamma delta"),
      (3L, "the alpha beta"),
      (4L, "the alpha zeta")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val got = TextAnalysis.tfidfCosinePairs(docs, "doc_id", col("text"), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(!got.contains((1L, 2L)), "boilerplate-only pair must be absent")
    assert(got((1L, 3L))._2 == 1000000L, s"identical informative terms: ${got((1L, 3L))}")
    val (shared14, cos14) = got((1L, 4L))
    assert(shared14 == 1L && cos14 > 0L && cos14 < 1000000L)
    // independent float check of the partial overlap
    val wAlpha = math.floor(math.log(4.0 / 3.0) * 100)  // alpha df=3
    val wBeta = math.floor(math.log(4.0 / 2.0) * 100)   // beta df=2
    val wZeta = math.floor(math.log(4.0 / 1.0) * 100)   // zeta df=1
    val exp = math.floor(wAlpha * wAlpha /
      (math.sqrt(wAlpha * wAlpha + wBeta * wBeta) *
        math.sqrt(wAlpha * wAlpha + wZeta * wZeta)) * 1e6).toLong
    assert(cos14 == exp, s"got $cos14 expected $exp")
  }

  test("text: topTfidfTerms — tf weighting beats rarity-only ranking") {
    val d = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    val got = TextAnalysis.topTfidfTerms(d, "doc_id", col("text"), k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) -> ((r.getString(1), r.getLong(3))))
      .toMap
    val ln2 = math.floor(math.log(2.0) * 1e6).toLong
    // doc1: x (tf=2, idf=ln2) > y (idf=0); doc2: z (ln2) > y
    assert(got((1L, 1)) == (("x", 2 * ln2)) && got((1L, 2)) == (("y", 0L)))
    assert(got((2L, 1)) == (("z", ln2)) && got((2L, 2)) == (("y", 0L)))
  }

  test("text: skipgramCounts — window offsets, clamped tails, minCount") {
    val d = Seq((1L, "a b c d"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.skipgramCounts(d, col("text"), window = 2, minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // d=1: (a,b)×2 [docs 1,2], (b,c), (c,d); d=2: (a,c), (b,d)
    assert(got == Map(
      ("a", "b") -> 2L, ("b", "c") -> 1L, ("c", "d") -> 1L,
      ("a", "c") -> 1L, ("b", "d") -> 1L))
    // window larger than any document: only realizable offsets emit
    val wide = TextAnalysis.skipgramCounts(d, col("text"), window = 9, minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(wide(("a", "d")) == 1L && wide.size == 6)
    // minCount prunes in the aggregate
    val pruned = TextAnalysis.skipgramCounts(d, col("text"), window = 2, minCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pruned == Set(("a", "b")))
  }

  test("dedup: prefix-filtered jaccard equals brute force on adversarial thresholds") {
    // randomized docs over a TINY vocabulary: heavy boilerplate
    // shingles (the prefix filter's hard case) + near-dup structure;
    // deterministic LCG so the test is reproducible
    var seed = 42L
    def nextInt(n: Int): Int = { seed = (seed * 48271) % 2147483647L; (seed % n).toInt }
    val vocab = Seq("a", "b", "c", "d")
    val rdocs = (1L to 40L).map { i =>
      val len = 6 + nextInt(10)
      (i, (0 until len).map(_ => vocab(nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8, 1.0)) {
      val expected = {
        val sh = Dedup.shingleSets(rdocs, "doc_id", col("text"), 3)
        sh.toDF("id_a", "sa").crossJoin(sh.toDF("id_b", "sb"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
          .withColumn("j", col("inter").cast("double") /
            (size(col("sa")) + size(col("sb")) - col("inter")))
          .filter(col("j") >= t)
          .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      }
      val got = Dedup.ngramJaccardPairsPrefix(rdocs, "doc_id", col("text"),
          n = 3, minJaccard = t)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(got == expected, s"threshold $t: got ${got.size}, want ${expected.size}")
    }
  }

  test("dedup: prefix jaccard PPJoin filters lose no recall on size-disparate docs") {
    // The round-15 positional + length filters prune candidates by
    // set SIZE and prefix POSITION — their failure mode is a FALSE
    // NEGATIVE on pairs whose sizes sit exactly at the t·max(sa,sb)
    // boundary or whose only shared prefix shingle is the last one.
    // Corpus engineered for both: documents of widely varying length
    // (6..60 tokens) over a tiny vocabulary, plus exact duplicates and
    // a contained-prefix pair, checked against brute force at the
    // q_dedup_curve floor (0.4) and the family threshold ladder.
    var seed = 1234L
    def nextInt(n: Int): Int = { seed = (seed * 48271) % 2147483647L; (seed % n).toInt }
    val vocab = Seq("a", "b", "c", "d")
    val base = (1L to 30L).map { i =>
      val len = 6 + nextInt(55)
      (i, (0 until len).map(_ => vocab(nextInt(vocab.size))).mkString(" "))
    }
    val rdocs = (base ++ Seq(
      (31L, base(0)._2),                                  // exact dup of doc 1
      (32L, base(1)._2 + " " + base(1)._2),               // doc 2 doubled
      (33L, base(2)._2.split(" ").take(8).mkString(" ")))) // prefix of doc 3
      .toDF("doc_id", "text")
    for (t <- Seq(0.4, 0.5, 0.8, 1.0)) {
      val expected = {
        val sh = Dedup.shingleSets(rdocs, "doc_id", col("text"), 3)
        sh.toDF("id_a", "sa").crossJoin(sh.toDF("id_b", "sb"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
          .withColumn("j", col("inter").cast("double") /
            (size(col("sa")) + size(col("sb")) - col("inter")))
          .filter(col("j") >= t)
          .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      }
      val got = Dedup.ngramJaccardPairsPrefix(rdocs, "doc_id", col("text"),
          n = 3, minJaccard = t)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(got == expected, s"threshold $t: got ${got.size}, want ${expected.size}")
    }
  }

  test("dedup: prefix jaccard with a STALE standing freq table is still exact") {
    // The standing-corpus amortization path: rank shingles by a freq
    // table snapshotted on HALF the corpus (so it is both stale and
    // missing shingles). The prefix lemma holds under any total order,
    // so the output must equal the fresh-freq run exactly.
    var seed = 7L
    def nextInt(n: Int): Int = { seed = (seed * 48271) % 2147483647L; (seed % n).toInt }
    val vocab = Seq("a", "b", "c", "d", "e")
    val rdocs = (1L to 40L).map { i =>
      val len = 6 + nextInt(10)
      (i, (0 until len).map(_ => vocab(nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val sh = Dedup.shingleSets(rdocs, "doc_id", col("text"), 3)
    val staleFreq = Dedup.shingleDocFrequencies(sh.filter(col("id") <= 20))
    for (t <- Seq(0.3, 0.6, 1.0)) {
      def pairsOf(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Double]("jaccard"))).toSet
      val fresh = pairsOf(Dedup.ngramJaccardPairsPrefixFromShingles(sh, t))
      val standing = pairsOf(
        Dedup.ngramJaccardPairsPrefixFromShingles(sh, t, Some(staleFreq)))
      assert(standing == fresh, s"threshold $t: stale-freq output diverged")
      // A DUPLICATED freq table (double-written snapshot) must not fan
      // postings out through the ranking join — the per-shingle
      // normalization makes it equivalent to the clean table.
      val doubled = pairsOf(Dedup.ngramJaccardPairsPrefixFromShingles(
        sh, t, Some(staleFreq.unionAll(staleFreq))))
      assert(doubled == fresh, s"threshold $t: duplicated-freq output diverged")
    }
  }

  test("dedup: ngram jaccard finds the near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", col("text"), n = 3, minJaccard = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    // (1,4) exact → jaccard 1; (1,2) and (2,4): 7 shingles each, 6
    // shared, union 8 → 0.75.
    assert(keys == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    assert(pairs.find(p => p._1 == 1 && p._2 == 4).get._3 == 1.0)
    assert(pairs.find(p => p._1 == 1 && p._2 == 2).get._3 == 0.75)
  }

  test("dedup: minhash-lsh candidates include exact and near dups") {
    val c = Dedup.minhashLshCandidates(docs, "doc_id", col("text"), n = 3, k = 8, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(c.contains((1L, 4L))) // identical docs always collide on every band
  }

  test("dedup: simhash identical docs at distance 0") {
    val d = Dedup.simhashNearDups(docs, "doc_id", col("text"), maxHamming = 0)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(d.contains((1L, 4L)))
  }

  test("dedup: simhash multi-band recall — 3 flipped bits spanning the high byte") {
    // Bits 5, 9, 13 differ: two of them live in the high byte, so the
    // round-1 single (fp >> 8) band missed this pair entirely. The
    // pigeonhole bands (4 × 4 bits) agree on band 0 and must find it.
    val fpB = (1L << 5) | (1L << 9) | (1L << 13)
    val fps = Seq((1L, 0L), (2L, fpB)).toDF("id", "fp")
    assert((0L >> 8) != (fpB >> 8)) // old banding: different buckets → lost
    val got = Dedup.simhashPairsFromFingerprints(fps, maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming")))
    assert(got.toSeq == Seq((1L, 2L, 3)))
  }

  test("dedup: lsh bucket cap defuses an all-identical corpus") {
    val many = (1 to 60).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashLshCandidates(many, "doc_id", col("text"), n = 3, k = 8, bands = 4)
    assert(uncapped.count() == 60L * 59 / 2) // quadratic: every pair collides
    val capped = Dedup.minhashLshCandidates(many, "doc_id", col("text"), n = 3, k = 8, bands = 4,
      maxBucketSize = Some(10))
    assert(capped.count() == 0) // hot buckets dropped, no pair fan-out
  }

  test("dedup: simhash bucket cap defuses an all-identical corpus") {
    val many = (1 to 60).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.simhashNearDups(many, "doc_id", col("text"), maxHamming = 3)
    assert(uncapped.count() == 60L * 59 / 2) // identical fps: every pair collides
    val capped = Dedup.simhashNearDups(many, "doc_id", col("text"), maxHamming = 3,
      maxBucketSize = Some(10))
    assert(capped.count() == 0) // hot band buckets dropped, no pair fan-out
  }

  test("sampling: tokenBudget keeps a maximal quality-ranked prefix per group") {
    val df = Seq(
      // (id, grp, toks, quality) — grp g: total 100 tokens, budget 2/5 = 40
      (1L, "g", 30L, 900L),
      (2L, "g", 20L, 800L),
      (3L, "g", 25L, 700L), // cum 75 > 40 → dropped despite decent quality
      (4L, "g", 25L, 600L),
      (5L, "h", 10L, 100L)  // singleton group: 10 tokens, budget 4 → dropped
    ).toDF("id", "grp", "toks", "q")
    val got = graft.ops.Sampling.tokenBudget(df, "grp", col("id"),
        col("toks"), col("q"), budgetNum = 2, budgetDen = 5)
      .select(col("__id"), col("keep"), col("cum_tokens"), col("budget_tokens"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((true, 30L, 40L)))   // best doc fits
    assert(got(2L) == ((false, 50L, 40L)))  // 30+20 > 40
    assert(got(3L) == ((false, 75L, 40L)))
    assert(got(4L) == ((false, 100L, 40L)))
    assert(got(5L) == ((false, 10L, 4L)))   // budget floor(10·2/5)=4 < 10
    // prefix-closedness: once a group stops keeping, it never resumes
    val byGroupOrder = Seq(1L, 2L, 3L, 4L).map(got(_)._1)
    assert(byGroupOrder.sliding(2).forall { case Seq(a, b) => a || !b })
  }

  private lazy val vecs = Seq(
    (0L, Array(1f, 0f, 0f)),
    (1L, Array(0.9f, 0.1f, 0f)),
    (2L, Array(0f, 1f, 0f)),
    (3L, Array(-1f, 0f, 0f))
  ).toDF("vec_id", "embedding")

  test("similarity: cosine exact values and top-k ordering") {
    val self = vecs.select(Similarity.cosine(col("embedding"), col("embedding"))).head.getDouble(0)
    assert(math.abs(self - 1.0) < 1e-12)
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
    assert(top.toSeq == Seq((1L, 1), (2L, 2), (3L, 3)))
  }

  test("similarity: lsh buckets put identical vectors together") {
    val dup = Seq((0L, Array(1f, 2f, 3f)), (1L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearDups(dup, "vec_id", "embedding", planes = 8, minCosine = 0.99)
      .collect()
    assert(pairs.length == 1 && pairs.head.getAs[Double]("cosine") == 1.0)
  }

  test("similarity: codegen dot/bucket bit-identical to the interpreted HOF folds") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 40)
      .map(i => (i.toLong, Array.fill(64)((rnd.nextFloat() - 0.5f) * 4f)))
      .toDF("vec_id", "embedding")
    val pairs = vecs.toDF("id_a", "va").crossJoin(vecs.toDF("id_b", "vb"))
    val d = pairs.select(
      Similarity.dot(col("va"), col("vb")).as("fast"),
      dotHof(col("va"), col("vb")).as("slow")).collect()
    assert(d.nonEmpty && d.forall(r => r.getDouble(0) == r.getDouble(1)))
    for (planes <- Seq(1, 4, 8, 16)) {
      val b = vecs.select(
        Similarity.lshBucket(col("embedding"), planes).as("fast"),
        lshBucketHof(col("embedding"), planes).as("slow")).collect()
      assert(b.forall(r => r.getLong(0) == r.getLong(1)), s"bucket mismatch at planes=$planes")
    }
  }

  test("similarity: dot_product NULLs length-mismatched vectors like the HOF form") {
    // A malformed corpus (ragged embedding lengths) must surface as
    // NULL — the zip_with HOF null-pads the shorter side and poisons
    // the fold — not as a silently truncated partial dot product.
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 1f, 1f)),
      (Array(1f, 2f, 3f), Array(1f, 1f))
    ).toDF("va", "vb")
    val rows = df.select(
      Similarity.dot(col("va"), col("vb")).as("fast"),
      dotHof(col("va"), col("vb")).as("slow")).collect()
    assert(rows(0).getDouble(0) == 6.0 && rows(0).getDouble(1) == 6.0)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
  }

  test("similarity: pairRecall — found fraction of exact ground truth") {
    val exact = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val approx = Seq((1L, 2L), (2L, 3L), (9L, 10L)).toDF("id_a", "id_b")
    val r = Similarity.pairRecall(exact, approx).head
    assert(r.getAs[Long]("n_exact") == 4 && r.getAs[Long]("n_found") == 2)
    assert(r.getAs[Double]("recall") == 0.5)
  }

  test("similarity: brute-force near-dups find the planted pair, LSH recall = 1 on it") {
    val dup = Seq(
      (0L, Array(1f, 2f, 3f)), (1L, Array(1f, 2f, 3.01f)), (2L, Array(-3f, 1f, 0.5f))
    ).toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceNearDups(dup, "vec_id", "embedding", minCosine = 0.99)
    val got = exact.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 1L)))
    val approx = Similarity.lshNearDups(dup, "vec_id", "embedding", planes = 8, minCosine = 0.99)
    val rec = Similarity.pairRecall(exact, approx).head.getAs[Double]("recall")
    assert(rec == 1.0) // near-identical vectors share every hyperplane sign
  }

  test("similarity: lsh bucket cap defuses an all-identical embedding set") {
    val dup = (0 until 40).map(i => (i.toLong, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val capped = Similarity.lshNearDups(dup, "vec_id", "embedding", planes = 8, minCosine = 0.99,
      maxBucketSize = Some(10))
    assert(capped.count() == 0)
    val uncapped = Similarity.lshNearDups(dup, "vec_id", "embedding", planes = 8, minCosine = 0.99)
    assert(uncapped.count() == 40L * 39 / 2)
  }

  test("text: repetition metrics — hand values and codegen/HOF parity") {
    val df = Seq(
      (1L, "a a a b c"),          // top=3 (a), bigrams: "a a","a a","a b","b c" → 1 dup
      (2L, "x y z"),              // no repetition at all
      (3L, "w"),                  // single token, no bigrams
      (4L, "p q p q p q")         // top=3, bigrams: pq,qp,pq,qp,pq → 5−2=3 dups
    ).toDF("doc_id", "text")
    val cols = TextAnalysis.repetitionColumns(col("text"))
    val got = df.select((col("doc_id") +: cols.map { case (n, c) => c.as(n) }): _*)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_distinct_tokens"),
          r.getAs[Long]("top_token_count"), r.getAs[Long]("dup_bigram_count")))).toMap
    assert(got(1L) == ((5L, 3L, 3L, 1L)))
    assert(got(2L) == ((3L, 3L, 1L, 0L)))
    assert(got(3L) == ((1L, 1L, 1L, 0L)))
    assert(got(4L) == ((6L, 2L, 3L, 3L)))
    // codegen kernel == interpreted HOF form on the shared fixture
    val parity = docs.select(
      graft.expr.TextExprs.top_token_count(split(col("text"), " ")).as("fast"),
      topTokenCountHof(col("text")).as("slow")).collect()
    assert(parity.nonEmpty && parity.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("sampling: hash sample is layout-independent and roughly sized") {
    val ids = (1L to 2000L).toDF("id")
    val a = graft.ops.Sampling.hashSample(ids, col("id"), permille = 250)
      .collect().map(_.getLong(0)).toSet
    // identical selection under a different partitioning — the whole
    // point vs df.sample()
    val b = graft.ops.Sampling.hashSample(ids.repartition(7), col("id"), permille = 250)
      .collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(a.size > 2000 * 0.25 * 0.7 && a.size < 2000 * 0.25 * 1.3, s"got ${a.size}")
    assert(graft.ops.Sampling.hashSample(ids, col("id"), 0).count() == 0)
    assert(graft.ops.Sampling.hashSample(ids, col("id"), 1000).count() == 2000)
  }

  test("text: rareTokens ranks by global document-frequency, ties lexicographic") {
    val df = Seq(
      (1L, "common rare1 common"),
      (2L, "common rare2 zz"),
      (3L, "common zz aa")
    ).toDF("doc_id", "text")
    // df: common=3, zz=2, rare1=1, rare2=1, aa=1
    val got = TextAnalysis.rareTokens(df, "doc_id", col("text"), k = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("token"),
        r.getAs[Long]("tf"), r.getAs[Long]("df"))).toSet
    assert(got == Set(
      (1L, "rare1", 1L, 1L), (1L, "common", 2L, 3L), // only 2 distinct tokens in doc 1
      (2L, "rare2", 1L, 1L), (2L, "zz", 1L, 2L),
      (3L, "aa", 1L, 1L), (3L, "zz", 1L, 2L)))
  }

  test("decontaminate: flags the planted eval overlap, not the clean doc") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),   // contains bench 3-grams
      (11L, "one two three four five six seven"),     // clean
      (12L, "alpha beta gamma nine ten"),             // only 1 overlapping shingle
      (13L, "a b")                                    // too short to shingle
    ).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "unrelated eval text here")
    ).toDF("bid", "btext")
    val got = graft.ops.Decontaminate.overlapReport(
        corpus, "doc_id", col("text"), bench, col("btext"), n = 3, minOverlap = 2L)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_shingles"), r.getAs[Long]("n_overlap"))).toSet
    // doc 10 shares the 3 bench shingles "alpha beta gamma",
    // "beta gamma delta", "gamma delta epsilon"; doc 12 shares only 1
    // (below minOverlap); 11 none; 13 unshingleable.
    assert(got == Set((10L, 4L, 3L)))
  }

  test("sampling: stratified rates apply per stratum, default elsewhere") {
    val df = (1L to 2000L).map(i => (i, if (i % 2 == 0) "en" else "xx"))
      .toDF("id", "lang")
    val kept = graft.ops.Sampling.stratifiedHashSample(
      df, col("id"), col("lang"), Map("en" -> 100), defaultPermille = 1000)
    val byLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("xx") == 1000L) // default 1000 permille keeps all
    assert(byLang("en") > 50 && byLang("en") < 160) // ~10% of 1000
    // Determinism: same selection under a different layout.
    val kept2 = graft.ops.Sampling.stratifiedHashSample(
      df.repartition(7), col("id"), col("lang"), Map("en" -> 100), defaultPermille = 1000)
    assert(kept2.select("id").collect().map(_.getLong(0)).toSet ==
      kept.select("id").collect().map(_.getLong(0)).toSet)
  }

  test("expr: BitmapDistinct equals count(DISTINCT) exactly; out-of-range fails loudly") {
    val rnd = new scala.util.Random(17)
    val rows = (1 to 5000).map(_ => (rnd.nextInt(4).toString, rnd.nextInt(900).toLong))
    val df = rows.toDF("g", "id").repartition(13) // force cross-partition merges
    val got = df.groupBy("g")
      .agg(graft.expr.BitmapDistinct.bitmapDistinct(1000L)(col("id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    assert(got == want)
    // ids past maxId must fail, not silently undercount
    val err = intercept[org.apache.spark.SparkException] {
      Seq(("a", 5000L)).toDF("g", "id").groupBy("g")
        .agg(graft.expr.BitmapDistinct.bitmapDistinct(1000L)(col("id")))
        .collect()
    }
    assert(err.getMessage.contains("outside") ||
      Option(err.getCause).exists(_.getMessage.contains("outside")))
  }

  test("sampling: assignSplit partitions every row, stable across layouts") {
    val df = (1L to 2000L).toDF("id")
    val splits = Seq("train" -> 900, "valid" -> 50, "test" -> 50)
    val got = graft.ops.Sampling.assignSplit(df, col("id"), splits)
    val bystr = got.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every row assigned, proportions near the permilles
    assert(bystr.values.sum == 2000L && got.filter(col("split").isNull).count() == 0)
    assert(bystr("train") > 1700 && bystr("valid") > 60 && bystr("test") > 60)
    // deterministic under repartition; consistent with hashBucket ranges
    val again = graft.ops.Sampling.assignSplit(df.repartition(7), col("id"), splits)
    assert(again.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      got.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // splits that don't cover [0,1000) are refused
    intercept[IllegalArgumentException] {
      graft.ops.Sampling.assignSplit(df, col("id"), Seq("train" -> 900))
    }
  }

  test("sampling: epochShuffle — per-epoch permutations, distinct across epochs, layout-stable") {
    val df = (1L to 200L).toDF("id")
    val got = graft.ops.Sampling.epochShuffle(df, col("id"), epochs = 3)
      .collect().map(r => (r.getInt(1), r.getLong(0), r.getLong(2)))
    // each epoch is a full permutation of positions 1..n
    for (e <- 1 to 3) {
      val eps = got.filter(_._1 == e)
      assert(eps.map(_._3).sorted.toSeq == (1L to 200L), s"epoch $e not a permutation")
    }
    // epochs genuinely reshuffle: the same doc lands at different
    // positions (identical permutations would defeat the operator)
    val byDoc = got.groupBy(_._2).map { case (_, xs) => xs.map(_._3).distinct.size }
    assert(byDoc.count(_ >= 2) > 150, "epoch permutations barely differ")
    // deterministic under repartition
    val again = graft.ops.Sampling.epochShuffle(df.repartition(7), col("id"), epochs = 3)
      .collect().map(r => (r.getInt(1), r.getLong(0), r.getLong(2)))
    assert(again.toSet == got.toSet)
  }

  test("sampling: repeatByWeight emits one copy per epoch, drops weight<1") {
    val df = Seq((1L, 3), (2L, 1), (3L, 0), (4L, -2)).toDF("id", "w")
    val got = graft.ops.Sampling.repeatByWeight(df, col("w"))
      .select("id", "rep").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L)))
  }

  test("text: topNgrams counts bigrams with deterministic tie-break") {
    val df = Seq(
      "a b c", // "a b", "b c"
      "a b d", // "a b", "b d"
      "x"      // too short: no bigrams
    ).toDF("text")
    val got = TextAnalysis.topNgrams(df, col("text"), n = 2, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a b", 2L), ("b c", 1L))) // tie (1,1) → "b c" < "b d"
  }

  test("dedup: removeFrequentSegments drops boilerplate lines, keeps order") {
    val lined = Seq(
      (1L, "COPYRIGHT 2024\nunique alpha content\nfollow us on social"),
      (2L, "COPYRIGHT 2024\nother beta words\nfollow us on social"),
      (3L, "COPYRIGHT 2024\nthird gamma text"),
      (4L, ""), // empty doc: one empty segment, never boilerplate (minChars)
      (5L, "follow us on social\nzeta first not last") // order check
    ).toDF("doc_id", "text")
    val out = Dedup.removeFrequentSegments(lined, "doc_id", "text", minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // "COPYRIGHT 2024" (3 docs) and "follow us on social" (3 docs) are
    // boilerplate at minDocs=2; per-doc unique lines survive in order.
    assert(out(1L) == (("unique alpha content", 2L)))
    assert(out(2L) == (("other beta words", 2L)))
    assert(out(3L) == (("third gamma text", 1L)))
    assert(out(4L) == (("", 0L)))
    assert(out(5L) == (("zeta first not last", 1L)))

    // minChars guard: 1-char separators repeated everywhere are kept.
    val dashed = Seq((1L, "-\na"), (2L, "-\nb"), (3L, "-\nc")).toDF("doc_id", "text")
    val kept = Dedup.removeFrequentSegments(dashed, "doc_id", "text",
        minDocs = 2, minChars = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept == Map(1L -> "-\na", 2L -> "-\nb", 3L -> "-\nc"))
  }

  test("dedup: crossJaccardPairsExact pairs batch against corpus only") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated corpus text about spark plans"),
      (3L, "another unrelated document with different words entirely")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"), // near-dup of 1
      (101L, "brand new content sharing nothing with the corpus"),
      // near-dup of ANOTHER BATCH doc (102~103): must NOT pair — cross only
      (102L, "batch internal duplicate pair alpha beta gamma delta"),
      (103L, "batch internal duplicate pair alpha beta gamma epsilon")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.crossJaccardPairsExact(
        corpus, batch, "doc_id", col("text"), n = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    assert(got.map(p => (p._1, p._2)).toSet == Set((100L, 1L)))
    assert(got.head._3 > 0.5 && got.head._3 < 1.0)
  }

  test("dedup: editDistanceNearDups equals brute force within the recall bound") {
    // all strings length >= 6 -> full recall for q=3, maxDist=1;
    // length >= 9 -> full recall for maxDist=2.
    val rows = Seq(
      (1L, "cold plate"), (2L, "old plate"),  // d=1
      (3L, "cold plates"),                    // d=1 of 1, d=2 of 2
      (4L, "gold plate"),                     // d=1 of 1/2-ish
      (5L, "anvil press"), (6L, "anvil dress"), // d=1
      (7L, "completely different")
    ).toDF("id", "s")
    val got = graft.ops.Dedup.editDistanceNearDups(rows, "id", "s", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the same rows
    val strs = Seq(1L -> "cold plate", 2L -> "old plate", 3L -> "cold plates",
      4L -> "gold plate", 5L -> "anvil press", 6L -> "anvil dress",
      7L -> "completely different")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
      d = lev(sa, sb) if d <= 2
    } yield (ia, ib, d.toLong)).toSet
    assert(got == want && want.nonEmpty)
    // hot-gram cap: stop-gram "ate" is droppable without losing the
    // pairs that also share rare grams
    val capped = graft.ops.Dedup.editDistanceNearDups(rows, "id", "s", maxDist = 2,
      maxGramFreq = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped.subsetOf(want))
  }

  test("text: redactPii scrubs emails, IPv4, and long digit runs") {
    val rows = Seq(
      "mail a.b-c+x@sub.example.org now",
      "ip 192.168.1.254 and 10.0.0.7 ok",
      "acct 12345678901 but keep 123456789", // 9 digits stay
      "v1.2.3.4000 no ip (4000 > 3 digits leaves boundary intact)",
      "clean text stays clean"
    ).toDF("text")
    val got = rows.select(TextAnalysis.redactPii(col("text"))).collect().map(_.getString(0))
    assert(got(0) == "mail <EMAIL> now")
    assert(got(1) == "ip <IP> and <IP> ok")
    assert(got(2) == "acct <NUM> but keep 123456789")
    assert(got(3) == "v1.2.3.4000 no ip (4000 > 3 digits leaves boundary intact)")
    assert(got(4) == "clean text stays clean")
  }

  test("text: winnowing — shared-run guarantee, short-doc cutoff, dup identity") {
    val k = 4; val w = 4 // guarantee threshold t = k + w - 1 = 7 tokens
    val run = "alpha beta gamma delta epsilon zeta eta theta" // 8-token shared run
    val d = Seq(
      (1L, s"intro words here $run trailing bits"),
      (2L, s"completely other prefix tokens $run"),
      (3L, s"intro words here $run trailing bits"), // exact dup of 1
      (4L, "one two three four five six"),          // 6 < t: no full window
      (5L, "unrelated content entirely different vocabulary paragraph talks about other things")
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(d, "doc_id", col("text"), k, w)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // winnowing guarantee: a shared run of >= k+w-1 tokens yields at
    // least one common selected fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty)
    // identical docs select identical fingerprint sets
    assert(fps(1L) == fps(3L))
    // below one full window: nothing emitted
    assert(!fps.contains(4L))
    // unrelated docs share nothing
    assert((fps(1L) & fps(5L)).isEmpty)
    // selection actually compresses: fewer fps than grams
    assert(fps(1L).size < 13 - k + 1)
  }

  test("dedup: removeDuplicatedSpans cuts cross-doc and in-doc repeats, exact counts") {
    val span = "the quick brown fox jumps" // 5 tokens, k=3 → all 5 positions covered
    val d = Seq(
      (1L, s"unique alpha words $span more unique beta"),
      (2L, s"other start tokens $span different ending"),
      (3L, "self repeat one two three filler one two three again"), // in-doc dup 3-gram
      (4L, "short doc"),                                            // < k tokens: untouched
      (5L, "wholly original vocabulary nothing shared anywhere")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.removeDuplicatedSpans(d, "doc_id", col("text"), k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1: 11 tokens, the 5-token span is cross-doc duplicated
    assert(got(1L) == ((11L, 5L, "unique alpha words more unique beta")))
    assert(got(2L) == ((10L, 5L, "other start tokens different ending")))
    // doc 3: "one two three" occurs twice in-doc → both occurrences cut
    assert(got(3L)._2 == 6L)
    assert(got(3L)._3 == "self repeat filler again")
    // doc 4 below gram size: nothing to dedup, row still present
    assert(got(4L) == ((2L, 0L, "short doc")))
    assert(got(5L)._2 == 0L)
  }

  test("dedup: removeDuplicatedSpans — fully-duplicated doc empties, count preserved") {
    val d = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),
      (3L, "x y z")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.removeDuplicatedSpans(d, "doc_id", col("text"), k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((5L, 5L, "")))
    assert(got(2L) == ((5L, 5L, "")))
    assert(got(3L) == ((3L, 0L, "x y z")))
  }

  test("text: lmUnigramScore — add-one model, OOV mass, exact micro-nat sums") {
    val ref = Seq((100L, "a a b")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.lmUnigramScore(docs, "doc_id", col("text"), ref, col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // vocab: a→2, b→1; total=3, |V|=2 → denom 5
    def unat(cnt: Long) = math.floor(math.log((cnt + 1).toDouble / 5.0) * 1e6).toLong
    assert(got(1L) == ((2L, unat(2) + unat(1))))
    assert(got(2L) == ((2L, unat(2) + unat(0)))) // c takes the OOV smoothing mass
    assert(!got.contains(3L)) // zero-token docs are out of scope
    // OOV scores strictly below any in-vocabulary token
    assert(unat(0) < unat(1) && unat(1) < unat(2))
  }

  test("text: lmBigramScore — seen bigrams, stupid backoff, first-token unigram") {
    // ref: "a b a b c" → uni a:2 b:2 c:1 (N=5, V=3 → denom 8);
    // bigrams (a,b):2 (b,a):1 (b,c):1
    val ref = Seq((100L, "a b a b c")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b c"), (2L, "c z"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.lmBigramScore(docs, "doc_id", col("text"), ref, col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def unat(x: Double) = math.floor(math.log(x) * 1e6).toLong
    def uni1(cnt: Long) = unat((cnt + 1).toDouble / 8.0)          // first token
    def back(cnt: Long) = unat((2 * (cnt + 1)).toDouble / 40.0)   // α=2/5 backoff
    // doc 1: first 'a' → uni1(2); (a,b) seen ln(2/2)=0; (b,c) seen ln(1/2)
    assert(got(1L) == ((3L, 2L, uni1(2) + 0L + unat(1.0 / 2.0))))
    // doc 2: first 'c' → uni1(1); (c,z) unseen → backoff on z (OOV, cnt 0)
    assert(got(2L) == ((2L, 0L, uni1(1) + back(0))))
    assert(!got.contains(3L)) // zero-token docs out of scope
    // fluency signal: the in-domain bigram path scores above its own backoff
    assert(0L > back(1), "seen (a,b) outscores backing off through b")
  }

  test("text: distributionDrift — zero on identical, 2·ln2 on disjoint, hand middle case") {
    val a = Seq((1L, "a a b")).toDF("doc_id", "text")
    def drift(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
      TextAnalysis.distributionDrift(x, col("text"), y, col("text"))
        .collect()(0) match {
        case r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    // identical slices: every term is ln(1)=0 exactly
    assert(drift(a, a) == ((2L, 2L, 2L, 0L)))
    // disjoint vocabularies: JSD = ln 2; both halves contribute x·ln2 each
    val b = Seq((2L, "c d c")).toDF("doc_id", "text")
    val (na, nb, nc, j2) = drift(a, b)
    assert((na, nb, nc) == ((2L, 2L, 0L)))
    val full = 2 * math.log(2.0) * 1e12
    assert(j2 <= full && j2 > full - 8, s"got $j2 vs $full") // ≤4 floors per side
    // hand case: A = {a:1}, B = {a:1, b:1} → classic ½,1 mix
    val c = Seq((3L, "a")).toDF("doc_id", "text")
    val d = Seq((4L, "a b")).toDF("doc_id", "text")
    val (_, _, common, got) = drift(c, d)
    val t1 = math.floor(1.0 * math.log((1.0 + 1.0) / (1.0 + 0.5)) * 1e12)
    val ta = math.floor(0.5 * math.log((0.5 + 0.5) / (1.0 + 0.5)) * 1e12)
    val tb = math.floor(0.5 * math.log((0.5 + 0.5) / (0.0 + 0.5)) * 1e12)
    assert(common == 1L && got == (t1 + ta + tb).toLong)
  }

  test("text: tokenEntropy — exact pieces, repeated vs distinct tokens") {
    val d = Seq((1L, "a a b"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(d, "doc_id", col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val clogc1 = math.floor(2 * math.log(2.0) * 1e6).toLong // a→2; b contributes ln(1)=0
    assert(got(1L) == ((3L, 2L, clogc1)))
    assert(got(2L) == ((1L, 1L, 0L)))
    assert(!got.contains(3L)) // zero-token docs out of scope
    // derived entropy: doc1 H = ln(3) − clogc/(1e6·3) ≈ 0.6365 nats (2/3,1/3 split)
    val h1 = math.log(3.0) - clogc1 / 1e6 / 3
    assert(math.abs(h1 - (math.log(3.0) - 2.0 / 3 * math.log(2.0))) < 1e-5)
  }

  test("text: stripHtml — tags, script/style bodies, entities, whitespace") {
    val cases = Seq(
      // script body holds a bare '<' — must go with the script, not leak
      (1L, """<p>keep</p><script>if (1 < 2) x();</script>""", "keep"),
      (2L, """<style a="b">p {x: 1}</style>one  two""", "one two"),
      (3L, "a<!-- not<b> -->b", "a b"),
      // single-pass entity decode: &amp;lt; is the author writing '&lt;'
      (4L, "&amp;lt; &lt;i&gt; &quot;q&quot; &#39;s&#39;&nbsp;end",
        "&lt; <i> \"q\" 's' end"),
      (5L, "<div\nclass='x'>multi\nline</div>", "multi line"),
      (6L, "plain text", "plain text"))
    val got = cases.toDF("id", "html", "want")
      .select(col("id"), TextAnalysis.stripHtml(col("html")).as("clean"), col("want"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    cases.foreach { case (id, _, _) =>
      val (clean, want) = got(id)
      assert(clean == want, s"case $id: got '$clean', want '$want'")
    }
  }

  test("apportionTokens: largest-remainder quotas sum to the budget exactly") {
    // 3 sources with 7/2/1 tokens, budget 10: ideal shares 7.0/2.0/1.0
    // divide evenly — every source gets its exact share, leftover 0.
    val even = Seq((1L, "a", 7L), (2L, "b", 2L), (3L, "c", 1L))
      .toDF("id", "source", "n")
    val gotEven = graft.ops.Sampling
      .apportionTokens(even, "source", col("n"), budget = 10L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(gotEven == Map("a" -> 7L, "b" -> 2L, "c" -> 1L))

    // 3/3/3 tokens, budget 10: bases 3/3/3, one leftover unit goes to
    // the LEXICOGRAPHICALLY SMALLEST source on the remainder tie.
    val tie = Seq((1L, "x", 3L), (2L, "y", 3L), (3L, "z", 3L))
      .toDF("id", "source", "n")
    val gotTie = graft.ops.Sampling
      .apportionTokens(tie, "source", col("n"), budget = 10L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(gotTie == Map("x" -> 4L, "y" -> 3L, "z" -> 3L))
    assert(gotTie.values.sum == 10L)

    // Uneven remainders: 5/3/2 tokens, budget 7 → ideal 3.5/2.1/1.4,
    // bases 3/2/1 (sum 6), one unit to the largest remainder (a, .5).
    val uneven = Seq((1L, "a", 5L), (2L, "b", 3L), (3L, "c", 2L))
      .toDF("id", "source", "n")
    val gotUneven = graft.ops.Sampling
      .apportionTokens(uneven, "source", col("n"), budget = 7L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(gotUneven == Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
    // Sum-to-budget is the contract, including a budget above ΣT
    // (repetition epochs) — quotas still apportion exactly.
    val big = graft.ops.Sampling
      .apportionTokens(uneven, "source", col("n"), budget = 103L)
      .collect().map(_.getLong(2)).sum
    assert(big == 103L)
  }

  test("blocking qualityMetrics: reduction ratio and pairs completeness from exact counts") {
    val cand = Seq((1L, 1L), (1L, 2L), (2L, 2L), (3L, 4L), (5L, 6L))
      .toDF("id_left", "id_right")
    val truth = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L))
      .toDF("id_left", "id_right")
    val r = graft.linkage.Blocking
      .qualityMetrics(cand, truth, "id_left", "id_right", totalPairs = 100L)
      .collect()(0)
    assert(r.getLong(r.fieldIndex("n_cand")) == 5L)
    assert(r.getLong(r.fieldIndex("n_truth")) == 4L)
    // hits = cand ∩ truth = {(1,1),(2,2)}
    assert(r.getLong(r.fieldIndex("n_hits")) == 2L)
    assert(r.getLong(r.fieldIndex("pairs_total")) == 100L)
    assert(math.abs(r.getDouble(r.fieldIndex("reduction_ratio")) - 0.95) < 1e-12)
    assert(math.abs(r.getDouble(r.fieldIndex("pairs_completeness")) - 0.5) < 1e-12)
  }

  test("collocations: PMI favors the glued pair over the independent one") {
    // "new york" always adjacent (c_xy=4, c_x=c_y=4); "the cat"
    // co-occurs once while both words are common. N = 20 tokens.
    val d = Seq(
      (1L, "new york new york the cat"),
      (2L, "new york the dog the bird"),
      (3L, "new york the fish the ant")
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.collocations(d, col("text"), minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val n = 18L // total tokens: 6 + 6 + 6
    val (nyPair, nyPmi) = got(("new", "york"))
    assert(nyPair == 4L)
    assert(nyPmi == math.floor(math.log(4.0 * n / (4.0 * 4.0)) * 1e6).toLong)
    val (tcPair, tcPmi) = got(("the", "cat"))
    assert(tcPair == 1L)
    assert(tcPmi == math.floor(math.log(1.0 * n / (5.0 * 1.0)) * 1e6).toLong)
    assert(nyPmi > tcPmi)
    // pairs never cross document boundaries
    assert(!got.contains(("cat", "new")))
  }

  test("exactPercentiles: agrees with sorted-array indexing on generated data") {
    // 3 groups x 101 deterministic pseudo-random values; every p in
    // 0..100 must equal the sorted array's ((n-1)*p) div 100 element.
    val rows = for (g <- 0 until 3; i <- 0 until 101)
      yield (s"g$g", (g * 101L + i) * 2654435761L % 10007L)
    val df = rows.toDF("g", "v")
    val ps = Seq(0, 7, 25, 50, 83, 99, 100)
    val got = graft.ops.Profiling.exactPercentiles(df, Seq("g"), col("v"), ps)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    for (g <- 0 until 3) {
      val sorted = rows.filter(_._1 == s"g$g").map(_._2).sorted
      for (p <- ps)
        assert(got((s"g$g", p)) == sorted(((sorted.size - 1) * p) / 100),
          s"g$g p$p")
    }
  }

  test("rollingDistinct: agrees with brute force on generated activity") {
    val rows = for (u <- 1L to 40L; k <- 0 until 5)
      yield (u, (u * 2654435761L + k * 40503L) % 300L) // t in [0, 300)
    val df = rows.toDF("user_id", "t")
    val got = graft.ops.Windows
      .rollingDistinct(df, "user_id", "t", period = 10L, windowPeriods = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val act = rows.map { case (u, t) => (u, t / 10L) }.distinct
    val ends = act.map(_._2).flatMap(p => p to p + 2).distinct
    for (e <- ends) {
      val expect = act.filter { case (_, p) => p <= e && p > e - 3 }
        .map(_._1).distinct.size.toLong
      assert(got(e) == expect, s"window end $e")
    }
    assert(got.keySet == ends.toSet)
  }

  test("interleaveOrder: prefix emission tracks weights within the WFQ bound") {
    // 3 sources with weights 1/2/4 and 80 rows each: in any position
    // prefix [0, P) a source of weight w emits floor(P*w/scale) ± 1.
    val rows = for (s <- Seq(("a", 1L), ("b", 2L), ("c", 4L)); i <- 1 to 80)
      yield (s._1, s._2, s._1 + "_" + i)
    val df = rows.toDF("src", "w", "k")
    val got = graft.ops.Sampling
      .interleaveOrder(df, "src", col("k"), col("w"))
      .select("src", "pos").as[(String, Long)].collect()
    for (p <- Seq(1000000L, 5000000L, 20000000L); (s, w) <- Seq(("a", 1L), ("b", 2L), ("c", 4L))) {
      val emitted = got.count { case (src, pos) => src == s && pos < p }
      val ideal = p * w / 1000000L
      assert(math.abs(emitted - ideal) <= 1, s"source $s at prefix $p: $emitted vs $ideal")
    }
  }

  test("groupMad: rank-selected median and MAD, robust to the wild value") {
    // group a: values 1,2,3,4,100 -> median 3 (rank 3 of 5);
    // deviations |v-3| = 2,1,0,1,97 sorted 0,1,1,2,97 -> mad 1.
    // One wild value (100) moves a mean/stddev but not the MAD.
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 100L),
      ("b", 10L), ("b", 10L)).toDF("g", "v")
    val got = graft.ops.Profiling.groupMad(df, Seq("g"), col("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("a" -> ((3L, 1L)), "b" -> ((10L, 0L))))
  }

  test("rollingDistinct: trailing-window distinct actives, duplicates collapse") {
    // period 10, window 2: user 1 active periods {0, 2}; user 2 {0};
    // user 3 {2}. Window ending 0: {1,2}=2; 1: {1,2}=2 (trailing);
    // 2: {1,3}=2; 3: {1,3}=2 (trailing).
    val ev = Seq(
      (1L, 3L), (1L, 5L), (1L, 21L),
      (2L, 9L), (3L, 25L)
    ).toDF("user_id", "t")
    val got = graft.ops.Windows
      .rollingDistinct(ev, "user_id", "t", period = 10L, windowPeriods = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("bipartiteProject: shared-basket pairs, hub cap drops the blowup basket") {
    // baskets: 10 holds {1,2,3}; 20 holds {2,3}; 30 holds {1,2,3,4}
    // but exceeds maxDegree=3 and is dropped; duplicate rows collapse.
    val e = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 2L),
      (20L, 2L), (20L, 3L),
      (30L, 1L), (30L, 2L), (30L, 3L), (30L, 4L)
    ).toDF("basket", "item")
    val got = graft.ops.Graphs.bipartiteProject(e, maxDegree = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 2L))
    // minShared keeps only pairs sharing >= 2 baskets
    val strong = graft.ops.Graphs.bipartiteProject(e, maxDegree = 3, minShared = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(strong == Map((2L, 3L) -> 2L))
  }

  test("fileStats: per-file envelopes of a range-sorted layout are disjoint and complete") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fstats").toString
    val df = (1L to 1000L).map(i => (i, i % 7)).toDF("k", "v")
    graft.etl.Etl.writeRangeSorted(df, dir, "k", nFiles = 4)
    val st = graft.etl.Etl.fileStats(spark, dir, "k").collect()
    assert(st.map(_.getLong(0)).sum == 1000L)
    assert(st.map(_.getLong(1)).min == 1L && st.map(_.getLong(2)).max == 1000L)
    // envelopes pairwise disjoint: sorted by min, each file starts
    // after the previous file's max
    val sorted = st.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    sorted.sliding(2).foreach {
      case Array((_, prevMax), (lo, _)) => assert(prevMax < lo)
      case _ =>
    }
  }

  test("encodeTokens: vocabulary ids in token order, OOV takes the sentinel") {
    val vocab = Seq(("the", 1L), ("fox", 2L), ("dog", 3L)).toDF("tok", "token_id")
    val d = Seq(
      (1L, "the fox ate the dog"),   // "ate" is OOV
      (2L, "dog  fox"),              // double space -> empty token dropped
      (3L, "")                       // zero tokens -> absent
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .encodeTokens(d, "doc_id", col("text"), vocab, "tok", "token_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getSeq[Long](3).toList))).toMap
    assert(got == Map(
      1L -> ((5L, 1L, List(1L, 2L, 0L, 1L, 3L))),
      2L -> ((2L, 0L, List(3L, 2L)))))
  }

  test("cohortRetention: first-period cohorts, one count per (cohort, offset)") {
    // period 10: user 1 first at t=5 (cohort 0), active periods 0,1,3;
    // user 2 first at t=12 (cohort 1), active periods 1,2; user 3 only
    // period 0. Duplicate activity in one period counts once.
    val ev = Seq(
      (1L, 5L), (1L, 7L), (1L, 15L), (1L, 31L),
      (2L, 12L), (2L, 25L),
      (3L, 1L), (3L, 2L)
    ).toDF("user_id", "t")
    val got = graft.ops.Windows.cohortRetention(ev, "user_id", "t", period = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      (0L, 0L) -> 2L, // users 1 and 3 in cohort 0 at offset 0
      (0L, 1L) -> 1L, (0L, 3L) -> 1L, // user 1 returns
      (1L, 0L) -> 1L, (1L, 1L) -> 1L)) // user 2
  }

  test("exactPercentiles: type-1 rank selection, exact values, tie-stable") {
    // group a: sorted values 10,20,30,40 (n=4): p50 rank = (3*50)div100+1
    // = 2 -> 20; p100 rank 4 -> 40; p0 rank 1 -> 10. group b: all equal
    // values — every percentile must return that value.
    val df = Seq(
      ("a", 40L), ("a", 10L), ("a", 30L), ("a", 20L),
      ("b", 7L), ("b", 7L), ("b", 7L)
    ).toDF("g", "v")
    val got = graft.ops.Profiling
      .exactPercentiles(df, Seq("g"), col("v"), Seq(0, 50, 100))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("a", 0) -> 10L, ("a", 50) -> 20L, ("a", 100) -> 40L,
      ("b", 0) -> 7L, ("b", 50) -> 7L, ("b", 100) -> 7L))
  }

  test("interleaveOrder: stride positions follow weights; stable under repartition") {
    // weight-2 source emits twice per weight-1 stride: positions
    // (2r-1)*S/(2w) for S=1000000 — w=2: 250000, 750000, 1250000...;
    // w=1: 500000, 1500000...
    val df = Seq(
      (1L, "hi"), (2L, "hi"), (3L, "hi"), (4L, "hi"),
      (5L, "lo"), (6L, "lo")
    ).toDF("id", "src")
    val weights = when(col("src") === "hi", 2L).otherwise(1L)
    val got = graft.ops.Sampling.interleaveOrder(df, "src", col("id"), weights)
    val hi = got.filter(col("src") === "hi").orderBy("rank_in_source")
      .select("pos").as[Long].collect().toSeq
    val lo = got.filter(col("src") === "lo").orderBy("rank_in_source")
      .select("pos").as[Long].collect().toSeq
    assert(hi == Seq(250000L, 750000L, 1250000L, 1750000L))
    assert(lo == Seq(500000L, 1500000L))
    // layout-independence: the whole assignment is a pure function of
    // (key, source, weight)
    val again = graft.ops.Sampling
      .interleaveOrder(df.repartition(7), "src", col("id"), weights)
      .select("id", "rank_in_source", "pos")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val first = got.select("id", "rank_in_source", "pos")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(again == first)
  }

  test("heapsLaw hand golden: band cumulation and first-sighting types") {
    // doc 0 = "a b a" (idx 0,1,2), doc 1 = "b c" (idx 4,5) at
    // maxDocTokens=4. Bands by bin-length: {0,1}→1, {2}→2, {4,5}→3.
    // Tokens cum: 2,3,5. First sightings: a@0,b@1 (band 1), c@5
    // (band 3) → types cum 2,2,3.
    val docs = Seq((0L, "a b a"), (1L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.heapsLaw(docs, "doc_id", col("text"), 4)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      1 -> (2L, 2L, 1000000L),
      2 -> (3L, 2L, 666666L),
      3 -> (5L, 3L, 600000L)))
  }

  test("heapsLaw: duplicated corpus grows types slower, tokens same rate") {
    val base = (0L until 40L).map(i => (i, s"w${i % 29} w${(i * 7) % 29} x$i"))
      .toDF("doc_id", "text")
    val dup = (0L until 40L).map(i => (i, s"w${i % 29} w${(i * 7) % 29} x${i % 5}"))
      .toDF("doc_id", "text")
    def last(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.heapsLaw(df, "doc_id", col("text"), 8)
        .orderBy(desc("band")).head()
    val (b, d) = (last(base), last(dup))
    assert(b.getLong(1) == d.getLong(1)) // same token count
    assert(b.getLong(2) > d.getLong(2))  // near-dup corpus: fewer types
  }

  test("rakeKeyphrases hand golden: degree/freq scores, phrase merge, top order") {
    // doc: "deep learning the deep net a net" with stop {the, a}
    //   phrases: [deep learning] [deep net] [net]
    //   freq: deep 2, learning 1, net 2
    //   degree: deep 2+2=4, learning 2, net 2+1=3
    //   wscore ppm: deep 2e6, learning 2e6, net 1.5e6
    //   scores: "deep learning" 4e6, "deep net" 3.5e6, "net" 1.5e6
    val docs = Seq((0L, "deep learning the deep net a net"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.rakeKeyphrases(docs, "doc_id", col("text"),
        Seq("the", "a"), topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("deep learning", 2L, 1L, 4000000L, 1L),
      ("deep net", 2L, 1L, 3500000L, 2L),
      ("net", 1L, 1L, 1500000L, 3L)))
  }

  test("rakeKeyphrases: identical phrases merge; rank ties break on text") {
    val docs = Seq((0L, "x y the x y"), (1L, "x y the z z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.rakeKeyphrases(docs, "doc_id", col("text"),
        Seq("the"), topK = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(4))).toMap
    assert(got("x y")._1 == 3L)                  // merged occurrences
    assert(got.keySet == Set("x y", "z z"))
  }

  test("poissonBootstrap: exact md5-coin replay, point row, null-safe empty") {
    import graft.ops.Sampling
    val vals = (0L until 50L).map(i => (i, i * 10L))
    val df = vals.toDF("k", "v")
    def u(r: Int, k: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"boot:$r:$k".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000000L
    }
    def w(r: Int, k: Long): Long =
      Sampling.PoissonCdfPpm.count(_ <= u(r, k)).toLong
    val got = Sampling.poissonBootstrap(df, col("k"), col("v"), 4)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set(-1, 0, 1, 2, 3))
    assert(got(-1) == (50L, vals.map(_._2).sum * 1000L / 50L))
    (0 until 4).foreach { r =>
      val neff = vals.map { case (k, _) => w(r, k) }.sum
      val ws = vals.map { case (k, v) => w(r, k) * v }.sum
      assert(got(r) == (neff, ws * 1000L / neff))
    }
    // replicate weights actually vary (the mechanism resamples)
    assert((0 until 4).map(got(_)._1).distinct.size > 1)
  }

  test("zipfProfile hand golden: rank octaves and the rank*freq invariant") {
    // freqs: a×8 b×4 c×2 d×1 e×1; topK=4 keeps a,b,c,d (tok asc at
    // freq 1). Ranks 1..4 → bands {1}:a, {2,3}:b,c, {4}:d.
    val docs = Seq((0L, "a a a a a a a a b b b b c c d e"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.zipfProfile(docs, col("text"), topK = 4)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(
      1 -> (1L, 8L, 8L, 8L),   // rank 1 × freq 8
      2 -> (2L, 6L, 6L, 8L),   // 2×4=8, 3×2=6
      3 -> (1L, 1L, 4L, 4L)))  // 4×1=4
  }

  test("zipfProfile: duplicated corpus doubles mass, keeps ranks") {
    val base = (0L until 30L).map(i => (i, s"w${i % 7} w${(i * 3) % 7} z"))
      .toDF("doc_id", "text")
    val dup = base.unionByName(base.withColumn("doc_id", col("doc_id") + 100))
    val g1 = TextAnalysis.zipfProfile(base, col("text"), 8)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val g2 = TextAnalysis.zipfProfile(dup, col("text"), 8)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(g1.keySet == g2.keySet)
    g1.foreach { case (band, (n, mass)) =>
      assert(g2(band) == (n, mass * 2)) // same shape, doubled counts
    }
  }

  test("cdcBounds kernel equals the direct slice-product definition") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def direct(hs: Array[Long], w: Int, d: Int): Seq[Int] =
      (w to hs.length).filter { p =>
        val slice = hs.slice(p - w, p)
        slice.zipWithIndex.map { case (h, j) =>
          h * math.pow(31.0, j).toLong }.sum % d == 0
      }
    val rng = new scala.util.Random(7)
    for (n <- Seq(0, 1, 7, 8, 9, 40, 300); d <- Seq(2, 17, 64)) {
      val hs = Array.fill(n)(rng.nextInt(1000000).toLong)
      val got = graft.expr.CdcExprs
        .cdcBounds(new GenericArrayData(hs), 8, d)
        .toIntArray().toSeq
      assert(got == direct(hs, 8, d), s"n=$n d=$d")
    }
    // degenerate windows
    val one = Array(0L, 5L, 34L)
    assert(graft.expr.CdcExprs.cdcBounds(new GenericArrayData(one), 1, 17)
      .toIntArray().toSeq == direct(one, 1, 17))
    // the no-overflow envelope is ENFORCED, not assumed: at w = 10 the
    // rolling sum bound 10⁶·(31¹⁰−1)/30 exceeds 2⁶³ and plain JVM long
    // arithmetic wraps SILENTLY, so both the expression and the
    // cdcChunks API refuse anything past the documented w ≤ 8 envelope
    val exExpr = intercept[IllegalArgumentException] {
      graft.expr.CdcExprs.cdcBoundsCol(col("x"), 9, 16)
    }
    assert(exExpr.getMessage.contains("<= 8"))
    val exApi = intercept[IllegalArgumentException] {
      TextAnalysis.cdcChunks(Seq((1L, "a b")).toDF("doc_id", "text"),
        "doc_id", col("text"), 9, 16)
    }
    assert(exApi.getMessage.contains("<= 8"))
  }

  test("burstiness: exact Fano, Poisson-flat vs bursty, minDf gate") {
    val docs = Seq((1L, "b b b b u x"), (2L, "b u"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.burstiness(docs, "doc_id", col("text"),
        minDf = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    // b: k=2 docs, S=5, SS=17 → (2·17−25)·1e6/(5·2) = 900000 (bursty)
    // u: k=2, S=2, SS=2 → 0 (one per doc — sub-Poisson flat)
    // x, z fail minDf=2 and never appear
    assert(got.toSeq == Seq(("b", 2L, 5L, 900000L), ("u", 2L, 2L, 0L)))
  }
}

/** The interpreted Column-algebra (higher-order function) forms of the
  * codegen'd kernels: the slow parity references the specs above hold
  * each kernel to, value for value.
  */
object OpsSpec {

  /** Left-to-right double fold — reference for [[Similarity.dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private val P = 2147483647L

  /** Deterministic hyperplane component for (plane, dim): an LCG-mixed
    * value in [−0.5, 0.5), the closed form of
    * [[Similarity.planeComponentSql]].
    */
  private def planeComponent(plane: Int, d: Column, seed: Long): Column = {
    val j = d + lit(seed + plane * 10007L)
    (pmod(pmod(j * j, lit(P)) * lit(48271L) + j, lit(P)).cast("double") / lit(P.toDouble)) - 0.5
  }

  /** One HOF fold per plane — reference for [[Similarity.lshBucket]]. */
  def lshBucketHof(vec: Column, planes: Int, seed: Long = 42L): Column = {
    val bits = (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(vec, sequence(lit(1), size(vec)),
          (x, i) => x.cast("double") * planeComponent(p, i.cast("long"), seed)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Reference for [[TextAnalysis.stopwordCount]]. */
  def stopwordCountHof(text: Column,
      stopwords: Seq[String] = TextAnalysis.DefaultStopwords): Column =
    size(filter(TextAnalysis.tokensWs(text), w => w.isin(stopwords.map(lit(_)): _*)))

  /** Max over distinct tokens of that token's occurrence count —
    * O(distinct·tokens) lambda evaluation; reference for the
    * `top_token_count` kernel.
    */
  def topTokenCountHof(text: Column): Column = {
    val toks = TextAnalysis.tokensWs(text)
    coalesce(
      array_max(transform(array_distinct(toks), x => size(filter(toks, y => y === x)))),
      lit(0)).cast("long")
  }

  /** Reference for [[TextAnalysis.fingerprint]]. */
  def fingerprintHof(text: Column): Column = {
    val codes = transform(TextAnalysis.tokensWs(text),
      w => conv(substring(md5(w), 1, 8), 16, 10).cast("long"))
    aggregate(codes, lit(0L), (h, x) => (h * 31 + x) % 1000000007L)
  }

  /** Reference for [[Dedup.shinglesFromTokens]]. */
  def shinglesFromTokensHof(toks: Column, n: Int): Column =
    if (n == 1) toks
    else {
      val idx = sequence(lit(0), size(toks) - n) // 0-based subscripts
      when(size(toks) >= n,
        transform(idx, i => concat_ws(" ", (0 until n).map(j => element_at(toks, (i + j + 1).cast("int"))): _*)))
        .otherwise(array().cast("array<string>"))
    }

  /** Per-permutation minhash mix: (aᵢ·h + bᵢ) mod P with fixed odd
    * multipliers; products stay below 2⁶².
    */
  def minhashMix(h: Column, i: Int): Column =
    pmod(h * lit(2 * i + 1001L) + lit(i * 9176L + 17L), lit(P))

  /** MinHash signature columns over a pre-hashed shingle array:
    * sig_i = min over hashes of mix_i(h), i = 0..k−1 — reference for
    * the `minhash_signature` kernel.
    */
  def minhashSignature(hashCol: Column, k: Int): Seq[(String, Column)] =
    (0 until k).map { i =>
      s"sig_$i" -> array_min(transform(hashCol, h => minhashMix(h, i)))
    }
}
