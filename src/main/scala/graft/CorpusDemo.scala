package graft

import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation demo — the pipeline a user of
  * the extension operators actually runs, wired from the same pieces
  * the oracle queries check one at a time:
  *
  *   documents
  *     → unicode canonicalization     (UnicodeExprs.nfcNormalizeCol)
  *     → exact dedup keep-list        (Dedup.exactDuplicates)
  *     → near-dup candidates          (Dedup.minhashLshCandidates)
  *     → exact Jaccard verification   (Dedup.ngramJaccardPairs shape)
  *     → duplicate-cluster resolution (Clusters.resolveDuplicates)
  *     → quality + language filter    (TextAnalysis)
  *     → benchmark decontamination    (Decontaminate.filterClean)
  *     → train/valid/test assignment  (Sampling.assignSplit)
  *     → weighted language mixing     (Sampling.repeatByWeight)
  *     → sequence packing             (Windows.packChunks)
  *     → token-budget apportionment   (Sampling.apportionTokens)
  *     → stride interleave order      (Sampling.interleaveOrder)
  *     → BPE subword train + encode   (Bpe.bpeTrain, Bpe.bpeEncode)
  *     → vocabulary report            (HeavyHitters.heavyHitters)
  *     → JSONL export + AUDITED parquet export (Etl.writeJsonl,
  *       Etl.writeAudited → readAudited verification gate)
  *
  * Prints the funnel (rows surviving each stage) with per-stage wall
  * times. Every stage is a lazy DataFrame plan — the funnel counts
  * are the only actions.
  *
  * Usage: `sbt "runMain graft.CorpusDemo [sfDir]"` (artifact:
  * docs/CORPUS_E2E_r06.md).
  */
object CorpusDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.build("graft-corpus-demo")

    // 0. Unicode canonicalization FIRST: every downstream digest,
    //    shingle, and comparator is byte-level, so composed/decomposed
    //    spellings of the same text must converge before dedup sees
    //    them (map-only codegen pass; free on clean corpora).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("text", graft.expr.UnicodeExprs.nfcNormalizeCol(col("text")))
    var t0 = System.nanoTime()
    def lap(): Double = {
      val sec = (System.nanoTime() - t0) / 1e9; t0 = System.nanoTime(); sec
    }
    val total = docs.count()

    // 1. Exact dedup: keep the minimum doc_id per content digest.
    val exactKept = graft.ops.Dedup.exactDuplicates(docs, "doc_id", col("text"))
      .filter(col("keep")).select("doc_id")
      .join(docs, Seq("doc_id"))
    val nExact = exactKept.count()
    val tExact = lap()

    // 2. Near-dup clusters over the exact-deduped corpus: LSH
    //    candidates → exact Jaccard >= 0.5 verification → connected
    //    components → keep cluster minima.
    val verified = graft.ops.Dedup.ngramJaccardPairs(
      exactKept, "doc_id", col("text"), n = 3, minJaccard = 0.5,
      maxBucketSize = Some(100L))
    val resolved = graft.ops.Clusters.resolveDuplicates(
      exactKept.select("doc_id"), "doc_id", verified)
    val nearKept = resolved.filter(col("keep")).select("doc_id")
      .join(exactKept, Seq("doc_id"))
    val nNear = nearKept.count()
    val tNear = lap()

    // 3. Quality gate. Detection (`lang_detected`) is a SIGNAL kept
    // alongside the table's curated `lang` label, not a replacement —
    // on this corpus the non-en docs are English-vocabulary synthetic
    // text, so detection reads "en" and only the metadata label can
    // drive the language mix below. Language-aware gating: the
    // stopword list is ENGLISH (an en-only gate would silently delete
    // every other language), and the whitespace token count penalizes
    // CJK (few spaces) — gate zh on characters instead.
    val quality = graft.ops.TextAnalysis.qualityColumns(col("text")).toMap
    val filtered = nearKept
      .withColumn("lang_detected", graft.ops.TextAnalysis.languageId(col("text")))
      .withColumn("n_tokens", quality("n_tokens"))
      .withColumn("stopword_ratio", quality("stopword_ratio"))
      .filter(
        when(col("lang") === "zh", length(col("text")) >= 100)
          .otherwise(col("n_tokens") >= 50) &&
        (col("lang") =!= "en" || col("stopword_ratio") > 0.01))
    val nQuality = filtered.count()
    val tQuality = lap()

    // 4. Decontamination: every 200th doc stands in for a benchmark
    //    set; drop corpus docs sharing >= 5 of its 3-shingles.
    val clean = graft.ops.Decontaminate.filterClean(
      filtered, "doc_id", col("text"),
      docs.filter(col("doc_id") % 200 === 0), col("text"),
      n = 3, minOverlap = 5L)
    val nClean = clean.count()
    val tClean = lap()

    // 5. Deterministic split assignment + weighted language mix for
    //    the train side (non-English upsampled), then sequence
    //    packing into 2048-token training chunks per language shard.
    val split = graft.ops.Sampling.assignSplit(clean, col("doc_id"),
      Seq("train" -> 900, "valid" -> 50, "test" -> 50))
    val splitCounts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 5b. Split QA gates — the checks that catch a broken split BEFORE
    //     training: (a) JS divergence between the train and valid
    //     token distributions (a hash split should leave them nearly
    //     identical; a skewed split shows up as a large JSD), and
    //     (b) chi-square association between split and language (the
    //     md5 bucket must be independent of any data column). Both are
    //     exactly-reproducible integers — a regression in either is a
    //     hard diff, not a judgement call.
    val jsd = graft.ops.TextAnalysis.distributionDrift(
        split.filter(col("split") === "train"), col("text"),
        split.filter(col("split") === "valid"), col("text"))
      .head
    val jsdNats = jsd.getLong(3) / 2e12
    val chi = graft.ops.Profiling.chiSquare(split, col("split"), col("lang")).head
    val chiPerDof = chi.getLong(4) / 1e6 / math.max(chi.getLong(3), 1L)
    // (c) cross-split perplexity drift: the add-one unigram LM trained
    //     on the train split scores train vs valid; per-token mean
    //     micro-nats should sit close (valid is held-out, so somewhat
    //     lower is expected — a LARGE gap means leakage or drift).
    val lmScored = graft.ops.TextAnalysis.lmUnigramScore(
        split, "doc_id", col("text"),
        split.filter(col("split") === "train"), col("text"))
      .join(split.select("doc_id", "split"), Seq("doc_id"))
      .groupBy("split")
      .agg(expr("sum(logprob_unat) div sum(n_tokens)").as("per_tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ppxGapUnat = lmScored("train") - lmScored.getOrElse("valid", lmScored("train"))
    // (d) info-gain leakage probe: IG(split; source/lang) in
    //     micro-nats·n — a hash split must carry (near) zero
    //     information about any data column.
    // finite-sample MI bias is ≈ (K−1)(L−1)/(2n) nats even for a
    // perfectly independent split, so the gate scales with 1/n
    val ig = graft.ops.Profiling.infoGain(split, col("split"),
        Seq("lang" -> col("lang"), "source" -> col("source")))
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(1))).toMap
    val igMaxNats = ig.values.map { case (u, n) => math.abs(u) / 1e6 / n }.max
    val igGate = 0.02 + 60.0 / ig.values.head._2
    val tGates = lap()

    val mixed = graft.ops.Sampling.repeatByWeight(
      split.filter(col("split") === "train")
        .withColumn("w", when(col("lang") === "en", 1).otherwise(2)),
      col("w"))
    require(jsdNats < 0.35,
      f"train/valid token JSD $jsdNats%.3f nats — split is distribution-skewed")
    require(chiPerDof < 3.0,
      f"split×lang chi2/dof $chiPerDof%.2f — split correlates with language")
    // held-out text must score LOWER (ppxGapUnat >= ~0) but not absurdly so
    require(ppxGapUnat > -100000 && ppxGapUnat < 2000000,
      s"train-vs-valid per-token LM gap $ppxGapUnat unat — leakage or drift")
    require(igMaxNats < igGate,
      f"split carries $igMaxNats%.4f nats about a data column " +
        f"(gate $igGate%.4f) — split is biased")
    val nMixed = mixed.count()
    val packed = graft.ops.Windows.packChunks(
      mixed.select(col("lang"), (col("doc_id") * 10 + col("rep")).as("seq_id"),
        col("n_tokens").cast("long")),
      "lang", "seq_id", "n_tokens", budget = 2048L)
    val nChunks = packed.agg(countDistinct(col("lang"), col("chunk"))).head.getLong(0)
    val tMix = lap()

    // 6. Mix scheduling + SUBWORD encoding: apportion a global token
    //    budget across languages (largest-remainder quotas sum to the
    //    budget exactly), order the train stream by deterministic
    //    stride interleave (no all-of-A-then-all-of-B curriculum
    //    accident), then tokenize SUBWORD: BPE merges trained on the
    //    train mix's own word-frequency table (Bpe.bpeTrain — exact
    //    integer pair counts, deterministic tie-break) and every
    //    train doc encoded through the learned segmentation
    //    (Bpe.bpeEncode, vocabulary-sized join). No OOV by
    //    construction on the training corpus — the base alphabet is
    //    always available, the property word-level vocabularies lack.
    val quotas = graft.ops.Sampling.apportionTokens(
        mixed.select(col("lang").as("source"),
          col("n_tokens").cast("long").as("tokens")),
        "source", col("tokens"), budget = 20000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val scheduled = graft.ops.Sampling.interleaveOrder(
      mixed.withColumn("w", when(col("lang") === "en", 1L).otherwise(2L)),
      "lang", concat_ws("_", col("doc_id"), col("rep")), col("w"))
    val nScheduled = scheduled.count()
    val wordFreq = mixed.select(
        explode(org.apache.spark.sql.functions.split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val (bpeMergeTable, bpeSeg) = graft.ops.Bpe.bpeTrain(wordFreq, merges = 24)
    val nMerges = bpeMergeTable.count()
    val bpePieces = graft.ops.Bpe.bpeEncode(
      mixed.select((col("doc_id") * 10 + col("rep")).as("uid"), col("text")),
      "uid", col("text"), bpeSeg)
    val encStats = bpePieces.agg(countDistinct("uid").as("n"),
      count(lit(1)).as("pieces"), countDistinct("piece").as("vocab")).head()
    val (nEncoded, encPieces, encVocabSize) =
      (encStats.getLong(0), encStats.getLong(1), encStats.getLong(2))
    val tSched = lap()

    // 7. Vocabulary report: exact heavy tokens of the train mix (the
    //    sanity check before a tokenizer run — a glued artifact or
    //    boilerplate blob shows up here first). The share bar scales
    //    with the corpus (anchored at the 500-doc scale — the
    //    q_heavy_hitters contract): a FIXED 1% bar goes empty the
    //    moment the vocabulary grows with the corpus.
    val su = math.min(math.max(1L, nMixed / 500L), 1024L)
    val vocab = graft.expr.HeavyHitters.heavyHitters(
      mixed.select(explode(org.apache.spark.sql.functions.split(col("text"), " ")).as("t"))
        .filter(col("t") =!= ""),
      col("t"), capacity = (256L * su).toInt, freqDen = 100L * su)
    val nVocab = vocab.count()
    val tVocab = lap()

    // 8. Export: JSONL for interchange + AUDITED parquet (manifest
    //    carries row count + order-independent checksum of the
    //    durable bytes); the read-back through the verifying reader
    //    IS the publish gate.
    val out = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    graft.etl.Etl.writeJsonl(mixed.select("doc_id", "rep", "lang", "text"), s"$out/jsonl")
    graft.etl.Etl.writeAudited(
      mixed.select("doc_id", "rep", "lang", "text"), s"$out/parquet",
      Seq("doc_id", "rep", "lang", "text"))
    val verifiedRows = graft.etl.Etl.readAudited(spark, s"$out/parquet").count()
    require(verifiedRows == nMixed, s"audited export rows $verifiedRows != $nMixed")
    val tExport = lap()
    println(f"[corpus] total           $total%6d")
    println(f"[corpus] exact-deduped   $nExact%6d  (-${total - nExact}%d exact dups)")
    println(f"[corpus] near-deduped    $nNear%6d  (-${nExact - nNear}%d near dups)")
    println(f"[corpus] quality-passed  $nQuality%6d  (-${nNear - nQuality}%d low quality)")
    println(f"[corpus] decontaminated  $nClean%6d  (-${nQuality - nClean}%d benchmark-tainted)")
    println(s"[corpus] split           " + Seq("train", "valid", "test")
      .map(k => s"$k=${splitCounts.getOrElse(k, 0L)}").mkString(" "))
    println(f"[corpus] split QA (r8)   per-token LM gap $ppxGapUnat%d unat; " +
      f"max split-IG $igMaxNats%.5f nats (both gated)")
    println(f"[corpus] split QA        train/valid JSD $jsdNats%.4f nats; " +
      f"split×lang chi2/dof $chiPerDof%.2f (both gated)")
    println(f"[corpus] train mixed     $nMixed%6d rows after non-en x2 upsampling")
    println(f"[corpus] packed          $nChunks%6d training chunks of 2048 tokens")
    println(s"[corpus] token quotas    " + quotas.map { case (l, avail, q) =>
      s"$l=$q/$avail" }.mkString(" ") + " (budget 20000)")
    println(f"[corpus] scheduled       $nScheduled%6d rows in stride-interleave order")
    println(f"[corpus] bpe-encoded     $nEncoded%6d docs, $encPieces%d subword pieces " +
      f"($nMerges%d merges, $encVocabSize%d-piece vocab, no OOV by construction)")
    println(f"[corpus] vocab report    $nVocab%6d heavy tokens (>1/${100 * su}%d of train stream)")
    println(s"[corpus] exported to $out (jsonl + audited parquet, verified $verifiedRows rows)")
    println(f"[time] exact=$tExact%.1fs near=$tNear%.1fs quality=$tQuality%.1fs " +
      f"decontam=$tClean%.1fs gates=$tGates%.1fs split+mix+pack=$tMix%.1fs sched+encode=$tSched%.1fs " +
      f"vocab=$tVocab%.1fs export=$tExport%.1fs")
    spark.stop()
  }
}
