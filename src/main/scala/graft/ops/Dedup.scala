package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * as distributed Spark plans that survive a 100 TB corpus:
  *
  *   - exact: hash-groupBy on a content digest (one shuffle on the
  *     digest, map-side combine);
  *   - n-gram Jaccard: MinHash-LSH candidate pairs first, then EXACT
  *     intersection/union verification on the candidates only (shingle
  *     sets joined back per pair). The corpus-quadratic inverted-index
  *     self-join is gone: pair fan-out is bounded by the LSH bucket
  *     structure, and each surviving pair costs one in-memory
  *     `array_intersect`;
  *   - MinHash + LSH: k salted-MD5 min-signatures per doc, banded into
  *     b groups; candidate pairs = equi-join on (band, band digest) —
  *     the standard sub-quadratic near-dup path. `maxBucketSize` drops
  *     degenerate buckets (boilerplate corpora) the same way the
  *     doc-frequency cap drops stop-shingles;
  *   - SimHash: per-token MD5 bits weighted ±1, fingerprint = sign
  *     vector computed in ONE codegen'd hash aggregation (explode →
  *     groupBy(id) with `bits` conditional sums); near-dups = pairs at
  *     Hamming distance ≤ h, found via (h+1) bit-slice bands — the
  *     pigeonhole guarantees any pair within h differing bits agrees
  *     on at least one band, so recall is exact.
  *
  * Everything is hex-MD5-based so the DuckDB oracle computes identical
  * hashes (both engines emit lowercase hex MD5); minima are taken on
  * hex STRINGS, which is a valid uniform minhash (lexicographic order
  * on uniform hex = order on the underlying integer).
  */
object Dedup {

  /** Exact-duplicate summary over a content digest. */
  def exactSummary(df: DataFrame, text: Column): DataFrame =
    df.select(md5(text).as("digest"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("digest")).as("n_unique"))

  /** Exact-duplicate keep-list — the most common dedup operation of
    * all: every row labeled with its content digest and
    * `keep = (id == min id sharing the digest)`, so a corpus prune is
    * `.filter(col("keep"))`. Output: (idCol, digest, keep).
    *
    * Scale shape: groupBy(digest)→min(id) then an equi-join back on
    * the digest — both stages hash-partition on the SAME key, so the
    * second exchange is reused; no window sort anywhere (a window
    * `min over (partition by digest)` would add a per-partition sort
    * of the full corpus).
    */
  def exactDuplicates(df: DataFrame, idCol: String, text: Column): DataFrame = {
    val d = df.select(col(idCol), md5(text).as("digest"))
    val keepers = d.groupBy("digest").agg(min(col(idCol)).as("__keep_id"))
      .withColumnRenamed("digest", "__keep_digest")
    // Null-safe join key: null-text rows share a null digest and must
    // form ONE dup group (matching SQL window PARTITION BY semantics)
    // — a plain equi-join would silently DROP them from the keep-list,
    // which for a corpus prune means losing rows instead of labeling
    // them. EqualNullSafe is still a hash-joinable key. (The keeper
    // side's key is renamed — keepers derives from d, so qualifying
    // by parent frame trips Spark's ambiguous-self-join detection.)
    d.join(keepers, col("digest") <=> col("__keep_digest"))
      .select(col(idCol), col("digest"), (col(idCol) === col("__keep_id")).as("keep"))
  }

  /** Segment-level deduplication (CCNet-style line dedup, Wenzek et
    * al. 2020): split every document into segments, count in how many
    * DISTINCT documents each segment occurs, drop segments occurring
    * in ≥ `minDocs` documents (boilerplate — navigation chrome,
    * license headers, repeated templates), and reassemble each
    * document from its surviving segments IN ORIGINAL ORDER. With
    * `splitRegex = "\n"` this is classic line-level dedup; any
    * segmentation (sentences, paragraphs) plugs in via the regex.
    * Segments shorter than `minChars` are never treated as
    * boilerplate (empty lines / separators stay).
    *
    * Output: (idCol, clean_text, n_removed) for every input row.
    *
    * Scale shape: posexplode → one hash agg on the segment (the
    * distinct-doc count is a partial-agg pair on (seg, id) then
    * (seg)) → join back on the segment → one hash agg on the doc id.
    * The frequent-segment side is SMALL by construction (only
    * segments repeated across ≥ minDocs docs), so AQE turns the
    * join-back into a broadcast at runtime; reassembly sorts each
    * doc's own segments with `array_sort` inside the aggregate — no
    * window, no global sort. `collect_list` of one doc's segments is
    * bounded by that doc's size, the same per-row bound as the text
    * column itself.
    */
  def removeFrequentSegments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long,
      splitRegex: String = "\n",
      joinStr: String = "\n",
      minChars: Int = 1): DataFrame = {
    val segs = df
      .select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), splitRegex))
          .as(Seq("__pos", "__seg")))
    val frequent = segs
      .filter(length(col("__seg")) >= minChars)
      .groupBy("__seg").agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__seg"), lit(true).as("__dup"))
    // left join + null-mark instead of left_anti: one pass yields both
    // the surviving segments and the per-doc removed count.
    segs.join(frequent, Seq("__seg"), "left")
      .groupBy(col(idCol))
      .agg(
        concat_ws(joinStr,
          transform(
            array_sort(collect_list(
              when(col("__dup").isNull, struct(col("__pos"), col("__seg"))))),
            x => x("__seg"))).as("clean_text"),
        count(col("__dup")).as("n_removed"))
  }

  /** Word n-gram shingles over a token-array column (n ≥ 1); the empty
    * array when the document has fewer than n tokens. Codegen'd one-
    * pass kernel ([[graft.expr.ShinglesExpr]]); the interpreted HOF
    * form, `OpsSpec.shinglesFromTokensHof`, is its parity reference —
    * that form additionally required `toks` to be a bound attribute
    * (expressions inside a `transform` lambda re-evaluate per element,
    * O(tokens²); measured 40× on the 400-token documents corpus), a
    * trap the expression kernel does not have.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    if (n == 1) toks else graft.expr.TextExprs.shingles(toks, n)

  /** Convenience inline form — ONLY for one-shot use on small inputs;
    * pair pipelines materialize the tokens first (see above).
    */
  def shingles(text: Column, n: Int): Column = shinglesFromTokens(split(text, " "), n)

  /** DuckDB mirror of [[shingles]] (1-based list subscripts). */
  def shinglesSql(textExpr: String, n: Int): String = {
    val toks = s"string_split($textExpr, ' ')"
    if (n == 1) toks
    else {
      val parts = (0 until n).map(j => s"t[i + $j]").mkString(" || ' ' || ")
      s"""CASE WHEN len($toks) >= $n THEN
         |  (SELECT list_transform(generate_series(1, len(t) - ${n - 1}), i -> $parts) FROM (SELECT $toks AS t))
         |ELSE [] END""".stripMargin.replace("\n", " ")
    }
  }

  /** Distinct shingle sets (id, sh): the shared front end of the
    * near-dup pipelines. Documents with fewer than n tokens are
    * dropped up front ON THE CHEAP TOKEN COUNT — a filter on size(sh)
    * would be predicate-pushed below the shingle projection,
    * re-inlining the O(tokens²) expression into an interpreted Filter
    * (observed: one task pinned for minutes).
    */
  def shingleSets(df: DataFrame, idCol: String, text: Column, n: Int): DataFrame = {
    val filtered = df.filter(size(split(text, " ")) >= n)
    // Parallelism.ensure touches df.rdd (illegal on a streaming frame);
    // micro-batch sources already partition on their own.
    val par = if (df.isStreaming) filtered else graft.util.Parallelism.ensure(filtered)
    par.select(col(idCol).as("id"), split(text, " ").as("__toks"))
      .select(col("id"), array_distinct(shinglesFromTokens(col("__toks"), n)).as("sh"))
  }

  /** Cross-GROUP shingle-overlap matrix — the corpus-level duplication
    * diagnostic ("how much does source A repeat source B?") run before
    * any doc-pair work: distinct (group, shingle) sets, exact pairwise
    * set Jaccard in ppm. Fan-out is bounded by `n_groups²` per shingle
    * (never doc-pairs), so with tens of sources this is one distinct
    * agg + one shingle-keyed self-join regardless of corpus size.
    */
  def groupShingleOverlap(df: DataFrame, groupCol: String, text: Column,
      n: Int): DataFrame = {
    val sh = graft.util.Parallelism.ensure(df.filter(size(split(text, " ")) >= n))
      .select(col(groupCol).as("g"), split(text, " ").as("__toks"))
      .select(col("g"), explode(array_distinct(shinglesFromTokens(col("__toks"), n))).as("sh"))
      .distinct()
    val sizes = sh.groupBy("g").agg(count(lit(1)).as("__sz"))
    sh.select(col("g").as("src_a"), col("sh"))
      .join(sh.select(col("g").as("src_b"), col("sh")), Seq("sh"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("g").as("src_a"), col("__sz").as("__sa")), Seq("src_a"))
      .join(sizes.select(col("g").as("src_b"), col("__sz").as("__sb")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        expr("(n_shared * 1000000L) div (__sa + __sb - n_shared)").as("jaccard_ppm"))
  }

  /** Distinct-shingle inverted index: (shingle, id). The `maxDocFreq`
    * cap drops shingles appearing in more than that many documents —
    * stop-shingles explode the inverted index quadratically at scale
    * (a shingle shared by f docs yields f² candidate pairs). The cap
    * is applied as a broadcast ANTI-join against the (small) list of
    * over-frequent shingles: the index itself is never window-shuffled,
    * and partial aggregation keeps the frequency count map-side.
    */
  def invertedIndex(df: DataFrame, idCol: String, shingleCol: Column,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val idx = df
      .select(col(idCol), explode(array_distinct(shingleCol)).as("shingle"))
    maxDocFreq.fold(idx) { cap =>
      val hot = idx.groupBy("shingle").agg(count(lit(1)).as("__df"))
        .filter(col("__df") > cap).select("shingle")
      // using-column joins move the key first — re-pin (id, shingle)
      // order so downstream positional renames stay correct.
      idx.join(broadcast(hot), Seq("shingle"), "left_anti")
        .select(col(idCol), col("shingle"))
    }
  }

  /** n-gram Jaccard near-duplicate pairs, LSH-bounded: MinHash-LSH
    * proposes candidates (sub-quadratic), then the exact
    * |∩| / (|A|+|B|−|∩|) is computed ONLY for candidate pairs by
    * joining each side's shingle set back and intersecting in memory.
    * Output: (id_a, id_b, inter, size_a, size_b, jaccard) with
    * id_a < id_b and jaccard ≥ minJaccard.
    *
    * Scale shape: no inverted-index self-join (the round-1 version
    * emitted ~f² rows per shared shingle — 51% of the whole bench at
    * sf0.1); pair fan-out is the LSH band structure's, each candidate
    * costs two hash-join probes carrying the shingle arrays plus one
    * codegen'd `array_intersect`. Recall is the LSH curve
    * 1−(1−J^r)^bands; by default (k, bands) are DERIVED from
    * `minJaccard` via [[lshParams]] so recall at the caller's own
    * threshold is ≥ 90% — pass k/bands explicitly to trade recall for
    * cost, or use [[ngramJaccardPairsExact]] when completeness is
    * required. The shingle subtree is evaluated once per join side
    * (cheap, map-only) rather than persisted: a persisted index would
    * leak into later queries in the session unless a caller-side
    * unpersist hook existed.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, text: Column, n: Int,
      minJaccard: Double, k: Int = -1, bands: Int = -1,
      maxBucketSize: Option[Long] = None): DataFrame = {
    val (k1, b1) = if (k > 0 && bands > 0) (k, bands) else lshParams(minJaccard)
    val sh = shingleSets(df, idCol, text, n)
    val cand = minhashLshCandidatesFromShingles(sh, k1, b1, maxBucketSize)
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("__sa")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("__sb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("size_a", size(col("__sa")).cast("long"))
      .withColumn("size_b", size(col("__sb")).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
  }

  /** EXACT n-gram Jaccard pairs via the inverted index — 100% recall,
    * for callers that cannot accept the LSH curve. Intersections are
    * counted by co-occurrence in the (shingle, id) index, so only
    * pairs sharing ≥ 1 shingle are ever materialized (never the full
    * cross product) — but a shingle shared by f docs still emits f²
    * index-join rows, which is corpus-quadratic on boilerplate.
    * `maxDocFreq` caps that explosion by dropping shingles more
    * frequent than the cap; WITH a cap, intersections over dropped
    * shingles undercount (documented trade — completeness over the
    * kept vocabulary only). Same output shape as
    * [[ngramJaccardPairs]].
    */
  def ngramJaccardPairsExact(
      df: DataFrame, idCol: String, text: Column, n: Int,
      minJaccard: Double, maxDocFreq: Option[Long] = None): DataFrame = {
    val sh = shingleSets(df, idCol, text, n)
    val idx = invertedIndex(sh, "id", col("sh"), maxDocFreq)
    val co = idx.toDF("id_a", "shingle")
      .join(idx.toDF("id_b", "shingle"), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"), col("inter").cast("long").as("inter"))
    val sizes = sh.select(col("id"), size(col("sh")).cast("long").as("sz"))
    co
      .join(sizes.toDF("id_a", "size_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "size_b"), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
  }

  /** ASYMMETRIC containment pairs — `C(A,B) = |A∩B| / |A|`, the
    * one-doc-inside-another detector Jaccard structurally misses: a
    * paragraph quoted whole inside a 100× larger page has tiny Jaccard
    * (union is huge) but containment ≈ 1 on the smaller side. That is
    * the dominant duplication mode in web corpora (boilerplate quoting,
    * aggregation sites, READMEs pasted into monorepos), and the reason
    * dedup pipelines check containment next to symmetric similarity
    * (Broder's resemblance/containment pair, SRC'97).
    *
    * Returns `(id_a, id_b, inter, size_a, size_b, cont_a_ppm,
    * cont_b_ppm)` with `id_a < id_b`, keeping pairs where EITHER
    * direction reaches `minContainmentPpm`. Containments are exact
    * integer ppm (`inter·10⁶ div size` — no float anywhere), so any
    * engine mirrors bit-for-bit.
    *
    * Same candidate machinery and `maxDocFreq` trade as
    * [[ngramJaccardPairsExact]]: the inverted-index co-occurrence join
    * pays f² per shared shingle — cap stop-shingles for corpus scale
    * (undercount documented there), or run the prefix path first when
    * symmetric similarity is also wanted.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, text: Column, n: Int,
      minContainmentPpm: Long, maxDocFreq: Option[Long] = None): DataFrame = {
    require(minContainmentPpm >= 1 && minContainmentPpm <= 1000000L,
      s"minContainmentPpm must be in [1, 1e6], got $minContainmentPpm")
    val sh = shingleSets(df, idCol, text, n)
    val idx = invertedIndex(sh, "id", col("sh"), maxDocFreq)
    val co = idx.toDF("id_a", "shingle")
      .join(idx.toDF("id_b", "shingle"), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .select(col("id_a"), col("id_b"), col("inter").cast("long").as("inter"))
    val sizes = sh.select(col("id"), size(col("sh")).cast("long").as("sz"))
    co
      .join(sizes.toDF("id_a", "size_a"), Seq("id_a"))
      .join(sizes.toDF("id_b", "size_b"), Seq("id_b"))
      .withColumn("cont_a_ppm", expr("(inter * 1000000L) div size_a"))
      .withColumn("cont_b_ppm", expr("(inter * 1000000L) div size_b"))
      .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= minContainmentPpm)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "cont_a_ppm", "cont_b_ppm")
  }

  /** EXACT n-gram Jaccard pairs via PREFIX FILTERING (Chaudhuri/
    * Ganti/Kaushik ICDE'06; Bayardo WWW'07 — public literature,
    * implemented fresh as a DataFrame program): identical output to
    * the UNCAPPED [[ngramJaccardPairsExact]], at a fraction of the
    * candidate cost. Shingles get a GLOBAL canonical order (ascending
    * document frequency, ties on text — rarest first); each document
    * indexes only its first `s − ceil(t·s) + 1` shingles in that
    * order. Any pair with J ≥ t overlaps by ≥ ceil(t·max(sa,sb)), and
    * two sets overlapping that much must share a PREFIX token under a
    * common order — so joining prefixes has 100% recall while the
    * boilerplate shingles (most frequent = last in order) almost
    * never enter the index. That kills the f² posting explosion the
    * capped exact path merely truncates: the cap trades completeness,
    * the prefix trades nothing.
    *
    * Candidates are verified with the full shingle sets
    * (`array_intersect`), so the result is exact with no undercount
    * caveat. Before verification the prefix self-join is additionally
    * pruned by PPJoin's LENGTH and POSITIONAL filters (Xiao/Wang/Lin/
    * Yu WWW'08 — both recall-preserving, see
    * [[ngramJaccardPairsPrefixFromShingles]]), so the expensive
    * array_intersect probes run on a strictly smaller candidate set
    * with identical output. Cost: one vocab-keyed frequency agg + one
    * keyed window for the per-doc prefix + the (small, filtered)
    * prefix self-join + two hash-join probes per candidate. The
    * frequency ranking is the price of the global order — ~one extra
    * pass over postings, amortizable by persisting (freq) for a
    * standing corpus.
    *
    * Measured on the sf0.1 documents table (a WORST case for the
    * filter: ~25-word vocabulary, so even "rare" shingles are
    * common): candidate pairs 1.13M → 0.41M and posting-join rows
    * 1.27M → 0.43M (2.8×) vs the uncapped co-occurrence join; wall
    * time lands at parity there because the freq+window passes
    * offset the saving at that size. On a Zipf-tailed real corpus
    * the reduction is the usual orders of magnitude (the boilerplate
    * head never enters the index), which is the regime this exists
    * for.
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame, idCol: String, text: Column, n: Int,
      minJaccard: Double): DataFrame =
    ngramJaccardPairsPrefixFromShingles(shingleSets(df, idCol, text, n), minJaccard)

  /** [[ngramJaccardPairsPrefix]] over pre-built `(id, sh)` shingle
    * sets — share ONE tokenization scan when several dedup paths run
    * on the same corpus (the [[minhashLshCandidatesFromShingles]]
    * split; q_minhash_recall feeds both sides from one checkpointed
    * shingle table).
    */
  def ngramJaccardPairsPrefixFromShingles(
      sh: DataFrame, minJaccard: Double): DataFrame =
    ngramJaccardPairsPrefixFromShingles(sh, minJaccard, None)

  /** Per-shingle document frequency `(shingle, df)` over a shingle-set
    * table — the ranking statistic behind the prefix filter's global
    * order. For a STANDING corpus, compute this once, write it to
    * parquet, and pass it back via
    * [[ngramJaccardPairsPrefixFromShingles]]'s `standingFreq`: the
    * full-postings frequency agg (one pass over every posting in the
    * corpus — the dominant fixed cost at 100 TB) is then paid per
    * corpus REFRESH, not per dedup RUN.
    */
  def shingleDocFrequencies(sh: DataFrame): DataFrame =
    sh.select(explode(col("sh")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))

  /** [[ngramJaccardPairsPrefixFromShingles]] with an optional
    * PERSISTED frequency table (`(shingle, df)`, the
    * [[shingleDocFrequencies]] shape, e.g. read back from parquet).
    *
    * Exactness is UNCONDITIONAL on the table's freshness: the prefix
    * lemma needs only that both documents of a pair rank shingles by
    * the SAME total order, and (df asc, shingle asc) with unseen
    * shingles coalesced to df = 0 is a total order no matter how
    * stale df is. A stale table therefore degrades only SELECTIVITY
    * (a shingle that became boilerplate since the snapshot still
    * ranks rare → enters more prefixes → more candidates), never
    * recall — verification against full shingle sets keeps the
    * output identical. Refresh the table when the corpus has drifted
    * enough that candidate counts creep up.
    *
    * Exactness DOES require one key per shingle: a duplicated key
    * would fan postings out through the join, inflating `__s` and
    * `__rn` so true prefix shingles fall past the cutoff — silent
    * recall loss. Rather than trusting the caller (a double-written
    * snapshot is an easy operational accident), the table is
    * normalized here with `groupBy(shingle).max(df)` — identity for a
    * well-formed table, and one agg over the (small, distinct-shingle
    * sized) freq table vs the postings-sized work downstream.
    */
  def ngramJaccardPairsPrefixFromShingles(
      sh: DataFrame, minJaccard: Double,
      standingFreq: Option[DataFrame]): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      s"minJaccard must be in (0, 1], got $minJaccard")
    // Set size rides along from the array (free in the explode
    // projection) instead of a second count-over-window pass on the
    // postings — one fewer WindowExec over the corpus's postings.
    val posts = sh.select(col("id"), size(col("sh")).cast("long").as("__s"),
      explode(col("sh")).as("shingle"))
    val freq = standingFreq match {
      case Some(f) => f.select(col("shingle"), col("df").cast("long").as("__df"))
        .groupBy("shingle").agg(max(col("__df")).as("__df"))
      case None    => posts.groupBy("shingle").agg(count(lit(1)).as("__df"))
    }
    val ordered = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy(col("__df").asc, col("shingle").asc)
    // p = s − ceil(t·s) + 1; the 1e-9 backs off double noise in t·s
    // landing a hair ABOVE an exact integer (which would shorten the
    // prefix and silently lose recall — the failure mode the oracle
    // equality would catch, backed off here so it cannot arise).
    // LEFT join: a shingle absent from a standing freq table (born
    // after the snapshot) must keep its postings — it ranks as df = 0
    // (ties broken by text), keeping the order total so the prefix
    // lemma still holds. With in-run freq the join is total anyway.
    val prefix = posts.join(freq, Seq("shingle"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(0L)))
      .withColumn("__rn", row_number().over(ordered))
      .filter(col("__rn") <=
        col("__s") - ceil(col("__s") * lit(minJaccard) - lit(1e-9)) + 1)
      .select(col("id"), col("shingle"), col("__rn"), col("__s"))
    // PPJoin-style candidate pruning (Xiao/Wang/Lin/Yu, WWW'08 —
    // positional + length filters), recall-preserving, so the exact
    // verification below sees strictly fewer pairs and the OUTPUT is
    // unchanged (the oracle equality still gates it):
    //   - length filter: J ≥ t forces t·max(sa,sb) ≤ min(sa,sb), so
    //     any pair whose sizes differ by more than t is dead on
    //     arrival whatever its shingles;
    //   - positional filter: for a shared ordered-prefix shingle at
    //     positions (pa, pb), every common shingle of a true pair
    //     sits at or after the FIRST shared one, so the overlap is
    //     ≤ 1 + min(sa−pa, sb−pb); J ≥ t needs overlap
    //     ≥ ⌈t/(1+t)·(sa+sb)⌉ (the equivalent-overlap form of the
    //     threshold). The first shared shingle of a true pair lies in
    //     both prefixes (the prefix lemma) and passes both bounds, so
    //     the ANY-shared-shingle survivor semantics below keeps every
    //     true pair. Both ceils carry the same 1e-9 backoff as the
    //     prefix length.
    val alphaT = minJaccard / (1.0 + minJaccard)
    val cand = prefix.toDF("id_a", "shingle", "__pa", "__sa")
      .join(prefix.toDF("id_b", "shingle", "__pb", "__sb"), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("__sa") >= ceil(col("__sb") * lit(minJaccard) - lit(1e-9)) &&
        col("__sb") >= ceil(col("__sa") * lit(minJaccard) - lit(1e-9)))
      .filter(lit(1L) + least(col("__sa") - col("__pa"), col("__sb") - col("__pb")) >=
        ceil((col("__sa") + col("__sb")) * lit(alphaT) - lit(1e-9)))
      .select("id_a", "id_b").distinct()
    // VERIFY-stage exchange sizing (round-16, guide §2/§5): the verify
    // rows carry both full shingle arrays, so at corpus scale the
    // id_b-keyed exchange holds GBs — at the ×100 rung with the
    // session-default width the runtime build side outgrew AQE's
    // local-hash-map limit, the join demoted to sort-merge and sorted
    // the 7.4 GB pair+array stream (11.6 GB disk / 28.7 GB memory
    // spilled in one stage). When the corpus scan is big enough to
    // matter (32 MiB gate — bench scales are ~600 KB and keep
    // byte-identical plans), the candidate table is materialized once
    // (its one consumer is this verify; the checkpoint job doubles as
    // the pair count) and both verify joins run at the
    // count-derived width: ~250k array-carrying pairs per task, the
    // measured no-spill envelope.
    val spark = sh.sparkSession
    val dflt = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val (candIn, nOpt) =
      if (!graft.util.Parallelism.scanBytesAtLeast(sh, 32L * 1024 * 1024)) (cand, None)
      else {
        val (ck, nPairs, _) =
          org.apache.spark.sql.graftbridge.Bridge.localCheckpointWithCount(cand)
        val n = graft.util.Parallelism.pairPartitions(
          spark, nPairs, graft.util.Parallelism.VerifyPairsPerTaskBudget)
        (ck, Some(n).filter(_ > dflt))
      }
    val j1 = nOpt.map(n => candIn.repartition(n, col("id_a"))).getOrElse(candIn)
      .join(sh.select(col("id").as("id_a"), col("sh").as("__sa")), Seq("id_a"))
    nOpt.map(n => j1.repartition(n, col("id_b"))).getOrElse(j1)
      .join(sh.select(col("id").as("id_b"), col("sh").as("__sb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("__sa"), col("__sb"))).cast("long"))
      .withColumn("size_a", size(col("__sa")).cast("long"))
      .withColumn("size_b", size(col("__sb")).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_a") + col("size_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "inter", "size_a", "size_b", "jaccard")
  }

  /** INCREMENTAL exact n-gram Jaccard: near-dup pairs between a NEW
    * BATCH and an EXISTING CORPUS only — never corpus×corpus — the
    * daily-ingest dedup shape ("is anything in today's crawl a dup of
    * what we already have?"). A full-corpus recompute grows with the
    * corpus; this grows with |batch| × matching corpus postings.
    * Output `(new_id, corpus_id, inter, size_new, size_corpus,
    * jaccard)`, 100% recall over the kept vocabulary (same
    * `maxDocFreq` undercount trade as [[ngramJaccardPairsExact]] —
    * the cap applies to CORPUS-side posting lists, where the f²
    * blow-up lives).
    *
    * The corpus shingle subtree is referenced twice (inverted index +
    * size join), i.e. two scans of the corpus per run. For a standing
    * daily-ingest pipeline, persist the corpus's `shingleSets` (or
    * write the inverted index out as a bucketed table keyed by
    * shingle) and amortize it across batches — the batch side stays
    * cheap either way.
    */
  def crossJaccardPairsExact(
      corpus: DataFrame, batch: DataFrame, idCol: String, text: Column, n: Int,
      minJaccard: Double, maxDocFreq: Option[Long] = None): DataFrame = {
    val shC = shingleSets(corpus, idCol, text, n)
    val shB = shingleSets(batch, idCol, text, n)
    val idxC = invertedIndex(shC, "id", col("sh"), maxDocFreq).toDF("corpus_id", "shingle")
    val idxB = invertedIndex(shB, "id", col("sh")).toDF("new_id", "shingle")
    val co = idxB.join(idxC, Seq("shingle"))
      .groupBy("new_id", "corpus_id").agg(count(lit(1)).as("inter"))
      .select(col("new_id"), col("corpus_id"), col("inter").cast("long").as("inter"))
    co
      .join(shB.select(col("id").as("new_id"),
        size(col("sh")).cast("long").as("size_new")), Seq("new_id"))
      .join(shC.select(col("id").as("corpus_id"),
        size(col("sh")).cast("long").as("size_corpus")), Seq("corpus_id"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("size_new") + col("size_corpus") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("new_id", "corpus_id", "inter", "size_new", "size_corpus", "jaccard")
  }

  /** Edit-distance near-duplicate pairs: candidates from a character
    * q-gram inverted index (only pairs sharing ≥ 1 q-gram are ever
    * materialized — never the cross product), verified with the exact
    * Levenshtein distance. Output `(id_a, id_b, dist)`, id_a < id_b,
    * dist ≤ maxDist. The canonical fuzzy-key join for catalog /
    * entity-name dedup where token-level Jaccard is too coarse.
    *
    * RECALL CONTRACT: one edit touches at most q of a string's
    * `L − q + 1` positional q-grams, so after k edits at least
    * `L − q + 1 − k·q` positions survive untouched — and any ONE
    * surviving position puts its gram in both strings' distinct-gram
    * sets. Candidates therefore have FULL recall whenever
    * `L − q + 1 − k·q ≥ 1` for the shorter string (q=3, k=1 needs
    * L ≥ 6; q=3, k=2 needs L ≥ 9). Below that, or with `maxGramFreq`
    * dropping hot grams, recall is best-effort (same documented trade
    * as [[ngramJaccardPairsExact]]).
    *
    * Scale shape: the index join emits f² rows per shared gram — cap
    * stop-grams with `maxGramFreq` on big corpora; the Levenshtein
    * verify runs only on surviving DISTINCT candidate pairs.
    */
  def editDistanceNearDups(
      df: DataFrame, idCol: String, strCol: String, maxDist: Int,
      q: Int = 3, maxGramFreq: Option[Long] = None): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(q >= 2, s"q must be >= 2, got $q")
    val base = df
      .select(col(idCol).as("id"), col(strCol).as("__s"))
      .filter(col("__s").isNotNull && length(col("__s")) >= q)
    val grams = expr(s"transform(sequence(1, length(__s) - ${q - 1}), i -> substring(__s, i, $q))")
    val idx = invertedIndex(
        base.select(col("id"), grams.as("__g")), "id", col("__g"), maxGramFreq)
      .toDF("id", "gram")
    val cand = idx.toDF("id_a", "gram")
      .join(idx.toDF("id_b", "gram"), Seq("gram"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(base.toDF("id_a", "__sa"), Seq("id_a"))
      .join(base.toDF("id_b", "__sb"), Seq("id_b"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** LSH candidate-recall at similarity `j` for (rowsPerBand, bands):
    * 1 − (1 − j^r)^b — the probability a pair with Jaccard j collides
    * in at least one band.
    */
  def lshRecall(j: Double, rowsPerBand: Int, bands: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rowsPerBand), bands)

  /** Derive (k, bands) for MinHash-LSH from the caller's Jaccard
    * threshold: among all (r, b) with k = r·b ≤ maxK whose recall AT
    * THE THRESHOLD meets `targetRecall`, pick the pair minimizing the
    * summed false-positive + false-negative area under the S-curve
    * (the same optimization the public datasketch library performs) —
    * low r over-recalls far below the threshold and floods the exact
    * verification stage; high r needs many bands to hold recall.
    *
    * This exists because a silent default is a trap: with (k=8, b=4),
    * recall at J=0.5 is only ~68% even though it is ≥96% at J=0.75.
    */
  def lshParams(minJaccard: Double, targetRecall: Double = 0.9, maxK: Int = 32): (Int, Int) = {
    require(minJaccard > 0 && minJaccard < 1, "minJaccard must be in (0,1)")
    val steps = 200
    def cost(r: Int, b: Int): Double = {
      // FP area below the threshold + FN area above it, trapezoid-free
      // plain Riemann sum is plenty for a parameter search.
      (0 until steps).map { i =>
        val s = (i + 0.5) / steps
        val p = lshRecall(s, r, b)
        if (s < minJaccard) p else 1.0 - p
      }.sum / steps
    }
    val candidates = for {
      r <- 1 to 8
      b <- 1 to maxK / r
      if lshRecall(minJaccard, r, b) >= targetRecall
    } yield (r, b)
    require(candidates.nonEmpty,
      s"no (r, bands) with k <= $maxK reaches recall $targetRecall at J=$minJaccard")
    val (r, b) = candidates.minBy { case (r, b) => cost(r, b) }
    (r * b, b)
  }

  private val MhP = 2147483647L // 2^31 − 1

  /** Base shingle hash for minhash: first 15 hex digits of MD5 (60
    * bits) reduced mod 2³¹−1. One MD5 per shingle; the k permutations
    * are cheap affine mixes of this base (universal hashing), not k
    * fresh digests — at 100 TB this is the difference between 1× and
    * k× hashing the corpus.
    */
  def shingleBaseHash(s: Column): Column =
    pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(MhP))

  def shingleBaseHashSql(sExpr: String): String =
    s"CAST(('0x' || substr(md5($sExpr), 1, 15)) AS BIGINT) % $MhP"

  /** MinHash-LSH candidate pairs from a prepared (id, sh) shingle-set
    * table (see [[shingleSets]]). Output (id_a, id_b) distinct,
    * id_a < id_b.
    *
    * The join is a plain shuffled equi-join on (band index, digest) —
    * sub-quadratic as long as band buckets stay small. `maxBucketSize`
    * is the degenerate-corpus guard: a bucket holding f docs emits f²
    * pair rows, so one boilerplate digest shared by 10⁶ docs of a
    * 100 TB corpus is a 10¹² explosion. Over-full (band, digest)
    * buckets are dropped via a broadcast anti-join against the (small)
    * hot-bucket list — identical shape to the inverted-index
    * doc-frequency cap.
    */
  /** Capped long-form band buckets `(id, [extras…], band, digest)` for
    * `(id, sh)` shingle sets — the shared middle of the self-join and
    * cross-join LSH candidate paths. Codegen'd map side: per-shingle
    * MD5 base hashes and all k signature minima in fused single-pass
    * kernels (the HOF forms — an interpreted md5 lambda per shingle
    * plus k interpreted array walks — are `OpsSpec`'s parity
    * references).
    * Band digests then read sig elements directly; values are
    * identical either way (exact integer math), as is the DuckDB
    * mirror.
    */
  private def bandBuckets(sh: DataFrame, k: Int, bands: Int,
      maxBucketSize: Option[Long], extras: Seq[String]): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rpb = k / bands
    val keep = "id" +: extras
    val withSig = sh.withColumn("__sig",
      graft.expr.TextExprs.minhash_signature(
        graft.expr.TextExprs.shingle_hashes(col("sh")), k))
    val withBands = (0 until bands).foldLeft(withSig) { case (d, j) =>
      d.withColumn(s"band_$j", md5(concat_ws("|",
        (j * rpb until (j + 1) * rpb).map(i => element_at(col("__sig"), i + 1).cast("string")): _*)))
    }
    val long = withBands.select(keep.map(col) :+
        explode(array((0 until bands).map(j =>
          struct(lit(j).as("band"), col(s"band_$j").as("digest"))): _*)).as("b"): _*)
      .select(keep.map(col) :+ col("b.band").as("band") :+ col("b.digest").as("digest"): _*)
    maxBucketSize.fold(long) { cap =>
      val hot = long.groupBy("band", "digest").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > cap).select("band", "digest")
      // using-column joins move the keys first — re-pin column order.
      long.join(broadcast(hot), Seq("band", "digest"), "left_anti")
        .select(keep.map(col) :+ col("band") :+ col("digest"): _*)
    }
  }

  /** UNCAPPED long-form band digests `(id, band, digest)` for `(id,
    * sh)` shingle sets — [[bandBuckets]]' map side made public for
    * callers that manage bucket membership themselves: the streaming
    * incremental-LSH sink ([[graft.streaming.Streams
    * .incrementalLshCandidates]]) keys its state store on (band,
    * digest) and enforces the hot-bucket cap per key as it grows,
    * where the batch global anti-join cannot exist. Map-only
    * (signature kernels + band md5 + explode) — streaming-safe.
    */
  def bandedDigests(sh: DataFrame, k: Int, bands: Int): DataFrame =
    bandBuckets(sh, k, bands, None, Nil)

  def minhashLshCandidatesFromShingles(sh: DataFrame, k: Int, bands: Int,
      maxBucketSize: Option[Long] = None): DataFrame = {
    val capped = bandBuckets(sh, k, bands, maxBucketSize, Nil)
    val l = capped.toDF("id_a", "band", "digest")
    val r = capped.toDF("id_b", "band", "digest")
    l.join(r, Seq("band", "digest"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** INCREMENTAL MinHash-LSH candidates — new batch × standing corpus,
    * the daily-ingest complement of [[crossJaccardPairsExact]] at LSH
    * fidelity: corpus×corpus pairs never form (yesterday's corpus was
    * already deduped against itself), so a day's work is
    * |batch|·fanout, not |corpus|². Both sides are bucketed TOGETHER
    * (one signature pass over the union) and the bucket cap applies to
    * the combined bucket — the same censoring a one-table run of the
    * union would apply, which is what makes the result consistent with
    * periodic full-corpus runs AND keeps the mirror a one-table CTE
    * chain with a side predicate. Returns `(id_new, id_corpus)`
    * distinct; ids are per-side namespaces (an id on both sides can
    * pair with itself — callers with shared id spaces filter).
    */
  def minhashLshCandidatesCross(
      shNew: DataFrame, shCorpus: DataFrame, k: Int, bands: Int,
      maxBucketSize: Option[Long] = None): DataFrame = {
    val tagged = shNew.select(col("id"), col("sh"), lit(true).as("__new"))
      .unionByName(shCorpus.select(col("id"), col("sh"), lit(false).as("__new")))
    val capped = bandBuckets(tagged, k, bands, maxBucketSize, Seq("__new"))
    val l = capped.filter(col("__new")).select(col("id").as("id_new"),
      col("band"), col("digest"))
    val r = capped.filter(!col("__new")).select(col("id").as("id_corpus"),
      col("band"), col("digest"))
    l.join(r, Seq("band", "digest"))
      .select("id_new", "id_corpus").distinct()
  }

  /** MinHash-LSH candidate pairs straight from a text column. */
  def minhashLshCandidates(
      df: DataFrame, idCol: String, text: Column, n: Int, k: Int, bands: Int,
      maxBucketSize: Option[Long] = None): DataFrame =
    minhashLshCandidatesFromShingles(shingleSets(df, idCol, text, n), k, bands, maxBucketSize)

  /** SimHash fingerprints in ONE pass: explode tokens, hash-aggregate
    * per doc with `bits` conditional ±1 sums (all codegen'd,
    * map-side-combinable), then assemble the sign vector. Output
    * (id, fp).
    *
    * This replaces the round-1 Column fold, which re-walked the token
    * array once per bit (16 interpreted `aggregate` passes — 90.8 s at
    * sf0.1 vs one shuffle of (id, code) rows here). Counter sums are
    * order-independent integers, so the result is deterministic and
    * DuckDB-mirrorable.
    *
    * `bits` defaults to 32: a 16-bit fingerprint SATURATES around 10⁴
    * docs — the round-3 sf1 scale probe measured 29× output-pair
    * growth for 10× docs at bits=16, because random pairs collide
    * within Hamming ≤ 3 once the corpus is comparable to the 2¹⁶
    * fingerprint space. At 32 bits the random-collision expectation
    * stays ≪ 1 per 10⁵ docs; grow further (≤ 60) for larger corpora.
    * The cap is 60 because the per-token code is parsed from
    * `(bits+3)/4` hex digits: 15 digits (60 bits) always fit a signed
    * long, while 16 digits can reach ≥ 2⁶³ — Spark's
    * `conv(...).cast(long)` silently nulls there and DuckDB's
    * `CAST('0x…' AS BIGINT)` errors, so 61–62 would diverge.
    */
  def simhashFingerprints(df: DataFrame, idCol: String, text: Column, bits: Int = 32): DataFrame = {
    require(bits > 0 && bits <= 60, "bits must be in [1, 60]")
    val toks = graft.util.Parallelism.ensure(df)
      .select(col(idCol).as("id"), explode(split(text, " ")).as("__w"))
      .select(col("id"),
        conv(substring(md5(col("__w")), 1, (bits + 3) / 4), 16, 10)
          .cast("long").bitwiseAND(lit((1L << bits) - 1)).as("__code"))
    val sums = (0 until bits).map(b =>
      sum(when(shiftright(col("__code"), b) % 2 === 1, 1L).otherwise(-1L)).as(s"__c$b"))
    val counts = toks.groupBy(col("id")).agg(sums.head, sums.tail: _*)
    val fp = (0 until bits).map(b =>
      when(col(s"__c$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    counts.select(col("id"), fp.as("fp"))
  }

  /** DuckDB mirror of [[simhashFingerprints]] as a CTE chain ending in
    * `fp(id, fp)`; `table`/`idExpr`/`textExpr` name the source.
    */
  def simhashFpCtesSql(table: String, idExpr: String, textExpr: String, bits: Int = 32): String = {
    require(bits > 0 && bits <= 60, "bits must be in [1, 60]")
    val sums = (0 until bits)
      .map(b => s"sum(CASE WHEN (code >> $b) % 2 = 1 THEN 1 ELSE -1 END) AS c$b").mkString(", ")
    val fpExpr = (0 until bits)
      .map(b => s"(CASE WHEN c$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    val hexDigits = (bits + 3) / 4
    s"""toks AS (
       |  SELECT $idExpr AS id, CAST(('0x' || substr(md5(u.w), 1, $hexDigits)) AS BIGINT) & ${(1L << bits) - 1} AS code
       |  FROM $table, unnest(string_split($textExpr, ' ')) AS u(w)),
       |cnt AS (SELECT id, $sums FROM toks GROUP BY id),
       |fp AS (SELECT id, $fpExpr AS fp FROM cnt)""".stripMargin
  }

  /** SimHash near-dup pairs from a prepared (id, fp) fingerprint table
    * via (maxHamming+1) bit-slice bands: a pair within maxHamming
    * differing bits must agree exactly on at least one slice
    * (pigeonhole), so banding loses NO qualifying pair — unlike the
    * round-1 single high-byte band, which silently dropped any pair
    * whose differing bits straddled the high byte. Output
    * (id_a, id_b, hamming), distinct, id_a < id_b.
    */
  def simhashPairsFromFingerprints(fp: DataFrame, maxHamming: Int, bits: Int = 32,
      maxBucketSize: Option[Long] = None): DataFrame = {
    val nb = maxHamming + 1
    require(bits % nb == 0, s"bits=$bits must be divisible by maxHamming+1=$nb bands")
    val w = bits / nb
    val mask = (1L << w) - 1
    val bandedAll = fp.select(col("id"), col("fp"),
      explode(array((0 until nb).map(j =>
        struct(lit(j).as("band"),
          shiftright(col("fp"), j * w).bitwiseAND(lit(mask)).as("key"))): _*)).as("b"))
      .select(col("id"), col("fp"), col("b.band").as("band"), col("b.key").as("key"))
    // Hot-bucket cap (the LSH-path anti-join idiom): a band key shared
    // by more than `cap` fingerprints is dropped from pairing — its
    // bucket alone would contribute cap²/2 candidate pairs. Pigeonhole
    // recall survives unless ALL of a pair's agreeing bands are hot.
    val banded = maxBucketSize.fold(bandedAll) { cap =>
      val hot = bandedAll.groupBy("band", "key").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > cap).select("band", "key")
      bandedAll.join(broadcast(hot), Seq("band", "key"), "left_anti")
    }
    val a = banded.select(col("id").as("id_a"), col("fp").as("fp_a"), col("band"), col("key"))
    val b = banded.select(col("id").as("id_b"), col("fp").as("fp_b"), col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
  }

  /** SimHash near-dup pairs: one-pass fingerprints + pigeonhole bands.
    * Output (id_a, id_b, hamming ≤ maxHamming).
    */
  def simhashNearDups(
      df: DataFrame, idCol: String, text: Column, maxHamming: Int, bits: Int = 32,
      maxBucketSize: Option[Long] = None): DataFrame =
    simhashPairsFromFingerprints(simhashFingerprints(df, idCol, text, bits),
      maxHamming, bits, maxBucketSize)

  /** DuckDB mirror of [[simhashNearDups]] past the `fp` CTE (append
    * after [[simhashFpCtesSql]]): bit-slice bands + distinct Hamming
    * pairs.
    */
  def simhashPairsSql(maxHamming: Int, bits: Int = 32,
      maxBucketSize: Option[Long] = None): String = {
    val nb = maxHamming + 1
    val w = bits / nb
    val mask = (1L << w) - 1
    val capCte = maxBucketSize.fold("banded AS (SELECT * FROM banded0)") { cap =>
      s"""banded AS (
         |  SELECT id, fp, band, key FROM banded0
         |  QUALIFY count(*) OVER (PARTITION BY band, key) <= $cap)""".stripMargin
    }
    s"""banded0 AS (
       |  SELECT id, fp, r.j AS band, (fp >> (r.j * $w)) & $mask AS key
       |  FROM fp, range($nb) AS r(j)),
       |$capCte,
       |pairs AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
       |  WHERE a.id < b.id AND bit_count(xor(a.fp, b.fp)) <= $maxHamming)""".stripMargin
  }

  // ---- duplicated-span removal (exact substring dedup) ---------------

  /** Cross-document duplicated-SPAN removal (the token-level
    * counterpart of Lee et al. 2022's "Deduplicating Training Data
    * Makes Language Models Better" suffix-array dedup): a token
    * position is DUPLICATED if it is covered by any k-gram that
    * occurs more than once in the whole corpus (including twice in
    * the same document). Each document is returned with its
    * duplicated positions removed and the survivors rejoined in
    * original order:
    * `(idCol, n_tokens, n_dup_tokens, clean_text)` — one row per
    * input row, including docs shorter than k tokens (nothing to
    * dedup → n_dup_tokens = 0).
    *
    * FIDELITY CONTRACT (vs the paper's suffix-array ExactSubstr, the
    * round-14 pin; property-checked in OpsSpec's span-exactness test):
    * with STRIDE-1 grams the marking is boundary-EXACT at token
    * granularity — a position is covered iff it lies inside a
    * contiguous token run of length ≥ k that occurs elsewhere in the
    * corpus (or again in the same document). Both directions are
    * immediate: a repeated run of length L ≥ k contains a duplicated
    * k-gram through every one of its positions, and a duplicated
    * k-gram IS a repeated run of length k. So there is no "modulo
    * k−1" boundary slack — that slack belongs to strided/tiled
    * schemes. What remains approximate vs Lee et al. 2022 HERE is only
    * the granularity of the unit itself: token runs with threshold k
    * tokens, not byte runs with a 50-BYTE threshold (a repeat
    * entering mid-token is counted from the token boundary). Maximal
    * repeated runs themselves are available as spans from
    * [[duplicatedSpanRuns]]; the paper's exact unit and threshold
    * (bytes@50) is [[duplicatedByteSpanRuns]] with k = 50 — the lemma
    * above is unit-agnostic, so the byte spans are boundary-exact too.
    *
    * Granularity: matching runs of ≥ k tokens are removed exactly
    * (every position in the run is covered by a duplicated gram);
    * runs shorter than k never trigger. That is the suffix-array
    * semantics at gram resolution — and gram hashing is the shape
    * that DISTRIBUTES, where a corpus-wide suffix array does not.
    *
    * Scale shape — everything is linear in total tokens, never
    * quadratic in matches: gram occurrences explode to one row per
    * (doc, pos); the corpus-wide occurrence count is one partial-agg
    * hash aggregate on the 60-bit gram hash; duplicated-gram
    * occurrences come back via a hash SEMI join of occurrences
    * against the duplicated-hash set (occurrence × occurrence pairs
    * are never formed — an f-times-repeated gram costs f rows, not
    * f²); coverage positions fan out ≤ k per occurrence and dedup in
    * a (doc, pos) aggregate; reassembly is the [[removeFrequentSegments]]
    * agg-side `array_sort(collect_list(struct))` — per-doc state only,
    * no window over the corpus.
    */
  /** Distinct duplicated token positions `(idCol, __cpos)` — the
    * shared core of [[removeDuplicatedSpans]] and
    * [[duplicatedSpanRuns]]: stride-1 k-gram hash occurrences, the
    * corpus-wide duplicated-hash set, a semi join back, ≤ k coverage
    * fan-out, position dedup.
    */
  private def coveredPositions(
      toks: DataFrame, idCol: String, k: Int): DataFrame = {
    val occ = toks.filter(size(col("__toks")) >= k)
      .select(col(idCol), posexplode(shinglesFromTokens(col("__toks"), k)).as(Seq("__pos", "__g")))
      .select(col(idCol), col("__pos"), shingleBaseHash(col("__g")).as("__h"))
    val dupHashes = occ.groupBy("__h").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select("__h")
    occ.join(dupHashes, Seq("__h"), "left_semi")
      .select(col(idCol), explode(sequence(col("__pos"), col("__pos") + (k - 1))).as("__cpos"))
      .groupBy(col(idCol), col("__cpos")).agg(lit(1).as("__one"))
      .select(col(idCol), col("__cpos"))
  }

  def removeDuplicatedSpans(
      df: DataFrame, idCol: String, text: Column, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val toks = df.select(col(idCol), split(text, " ").as("__toks"))
    val covered = coveredPositions(toks, idCol, k)
    val tokPos = toks.select(col(idCol), posexplode(col("__toks")).as(Seq("__pos", "__tok")))
    // left join + null-mark (the removeFrequentSegments pattern): one
    // pass yields the surviving tokens AND the per-doc removed count.
    // covered's id is renamed first — both frames descend from `toks`,
    // and a same-lineage `a(id) === b(id)` trips Spark's ambiguous-
    // self-join resolution into a trivially-true predicate.
    val coveredR = covered.select(col(idCol).as("__cid"), col("__cpos"))
    val marked = tokPos.join(coveredR,
      col(idCol) === col("__cid") && col("__pos") === col("__cpos"), "left")
      .select(col(idCol), col("__pos"), col("__tok"), col("__cpos"))
    marked.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        count(col("__cpos")).as("n_dup_tokens"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("__cpos").isNull, struct(col("__pos"), col("__tok"))))),
            x => x("__tok"))).as("clean_text"))
  }

  /** MAXIMAL duplicated spans — the chain-merge view of
    * [[removeDuplicatedSpans]]'s coverage set: consecutive duplicated
    * positions merge into `(idCol, span_start, span_end, span_len)`
    * runs (0-based inclusive token positions). By the fidelity
    * contract above these are EXACTLY the maximal contiguous token
    * runs of length ≥ k that occur more than once in the corpus, with
    * exact boundaries — the span inventory an exact-substring dedup
    * audit reads (which corpora share boilerplate, how long, where),
    * where [[removeDuplicatedSpans]] is the removal action.
    *
    * Shape: islands-and-gaps swept directly over duplicated-gram
    * START positions ([[gramIslandRuns]] — the coverage set is never
    * exploded); the lag/sum windows are partitioned by document,
    * never corpus-wide.
    */
  def duplicatedSpanRuns(
      df: DataFrame, idCol: String, text: Column, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val toks = df.select(col(idCol), split(text, " ").as("__toks"))
    val occ = toks.filter(size(col("__toks")) >= k)
      .select(col(idCol), posexplode(shinglesFromTokens(col("__toks"), k)).as(Seq("__pos", "__g")))
      .select(col(idCol), col("__pos"), shingleBaseHash(col("__g")).as("__h"))
    gramIslandRuns(dupGramPositions(occ, idCol), idCol, k)
  }

  /** Duplicated-gram START positions `(idCol, __pos)` — the occurrence
    * rows whose hash repeats corpus-wide (the [[coveredPositions]]
    * occ/dup/semi core WITHOUT the ≤ k coverage fan-out).
    */
  private def dupGramPositions(occ: DataFrame, idCol: String): DataFrame = {
    val dupHashes = occ.groupBy("__h").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select("__h")
    occ.join(dupHashes, Seq("__h"), "left_semi")
      .select(col(idCol), col("__pos"))
  }

  /** Islands-and-gaps directly over duplicated-gram START positions —
    * equivalent to the old row_number islands merge over the exploded
    * coverage set ([[coveredPositions]]' fan-out) but
    * WITHOUT materializing it (guide §2.3: shuffle fewer bytes — the
    * coverage fan-out is k rows per duplicated gram, 50× for the byte
    * path, plus a (doc, pos) dedup aggregate; this sweep shuffles one
    * row per duplicated gram and aggregates once).
    *
    * Equivalence: each gram at `p` covers the interval `[p, p+k−1]`,
    * and with FIXED k interval ends are monotone in starts, so sorted
    * intervals merge into one contiguous covered run exactly while
    * `next_p ≤ prev_p + k` (next start ≤ previous end + 1); a gap in
    * coverage opens iff `next_p > prev_p + k`. Island spans are then
    * `[min p, max p + k − 1]` — identical to merging the exploded
    * positions. The windows (lag + running count of gap-opens) are
    * per-document over gram starts, sharing one partition/sort.
    */
  private def gramIslandRuns(dupOcc: DataFrame, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    val run = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dupOcc
      .withColumn("__gap",
        when(col("__pos") > lag(col("__pos"), 1).over(w) + k, 1L)
          .otherwise(lit(0L)))
      .withColumn("__island", sum(col("__gap")).over(run))
      .groupBy(col(idCol), col("__island"))
      .agg(min("__pos").cast("long").as("span_start"),
        (max("__pos") + (k - 1)).cast("long").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** BYTE-granularity maximal duplicated spans — Lee et al. 2022's
    * actual unit (the paper's ExactSubstr threshold is 50 BYTES, not
    * tokens): `(idCol, span_start, span_end, span_len)` with 0-based
    * inclusive positions in the UTF-8 BYTE stream of the text. A byte
    * position is duplicated iff it lies inside a contiguous byte run
    * of length ≥ k that occurs more than once in the corpus; by the
    * [[removeDuplicatedSpans]] fidelity lemma (unit-agnostic — it
    * never mentions what a "position" is) stride-1 k-byte-gram
    * coverage marks exactly those positions, so the spans are
    * boundary-exact at byte granularity. With k = 50 this IS the
    * paper's semantics, closing the tokens-vs-bytes divergence the
    * token-level [[duplicatedSpanRuns]] scaladoc documents. A repeat
    * may begin mid-token and mid-CHARACTER (a multi-byte code point's
    * tail bytes can open a span) — faithful to the paper, surprising
    * to a reader expecting character alignment; consumers cutting
    * text on these offsets must re-align to character boundaries.
    *
    * Cross-engine byte slicing: DuckDB has no BLOB substring or
    * md5(BLOB), so BOTH engines slice the UPPERCASE-HEX encoding of
    * the UTF-8 bytes — 2 hex chars per byte makes character ops on
    * the hex string exact byte ops on the raw text, and `hex()` is
    * uppercase on both engines. Costs a 2× wider intermediate column;
    * occurrence-row count is identical to slicing raw bytes (one row
    * per byte position), and everything downstream is the same
    * linear-in-bytes gram/semi-join/sweep shape as the token path —
    * the [[gramIslandRuns]] start-position merge, never a ×k coverage
    * explode (at k = 50 that explode was 50 rows per duplicated gram).
    */
  def duplicatedByteSpanRuns(
      df: DataFrame, idCol: String, text: Column, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val bytes = encode(text, "UTF-8")
    // length(binary) is the BYTE count — the hex string is 2× that.
    val hx = df.select(col(idCol), hex(bytes).as("__hx"),
      length(bytes).cast("int").as("__nb"))
    val occ = hx.filter(col("__nb") >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), col("__nb") - k),
        j => col("__hx").substr(j * 2 + 1, lit(2 * k)))).as(Seq("__pos", "__g")))
      .select(col(idCol), col("__pos"), shingleBaseHash(col("__g")).as("__h"))
    gramIslandRuns(dupGramPositions(occ, idCol), idCol, k)
  }

  /** DuckDB mirror of [[duplicatedSpanRuns]]: identical occurrence/
    * coverage CTEs, then the same islands-and-gaps merge.
    */
  def duplicatedSpanRunsSql(table: String, idExpr: String, textExpr: String,
      k: Int): String =
    s"""WITH d AS (
       |  SELECT $idExpr, string_split($textExpr, ' ') AS toks FROM $table),
       |occ AS (
       |  SELECT $idExpr, j - 1 AS pos,
       |         ${shingleBaseHashSql(s"array_to_string(toks[j : j + ${k - 1}], ' ')")} AS h
       |  FROM d, unnest(generate_series(1, len(toks) - ${k - 1})) AS t(j)
       |  WHERE len(toks) >= $k),
       |dup AS (SELECT h FROM occ GROUP BY h HAVING count(*) > 1),
       |covered AS (
       |  SELECT DISTINCT $idExpr, c.cpos
       |  FROM occ JOIN dup USING (h), unnest(generate_series(occ.pos, occ.pos + ${k - 1})) AS c(cpos)),
       |runs AS (
       |  SELECT $idExpr, cpos,
       |         cpos - row_number() OVER (PARTITION BY $idExpr ORDER BY cpos) AS island
       |  FROM covered)
       |SELECT $idExpr, CAST(min(cpos) AS BIGINT) AS span_start,
       |       CAST(max(cpos) AS BIGINT) AS span_end,
       |       CAST(max(cpos) - min(cpos) + 1 AS BIGINT) AS span_len
       |FROM runs GROUP BY $idExpr, island""".stripMargin

  /** DuckDB mirror of [[duplicatedByteSpanRuns]]: the same
    * uppercase-hex byte slicing (`substr(hx, 2·pos+1, 2k)` ≡ bytes
    * `[pos, pos+k)`), then the identical dup/coverage/islands CTEs.
    */
  def duplicatedByteSpanRunsSql(table: String, idExpr: String, textExpr: String,
      k: Int): String =
    s"""WITH d AS (
       |  SELECT $idExpr, hex(encode($textExpr)) AS hx,
       |         octet_length(encode($textExpr)) AS nb FROM $table),
       |occ AS (
       |  SELECT $idExpr, j - 1 AS pos,
       |         ${shingleBaseHashSql(s"substr(hx, (j - 1) * 2 + 1, ${2 * k})")} AS h
       |  FROM d, unnest(generate_series(1, nb - ${k - 1})) AS t(j)
       |  WHERE nb >= $k),
       |dup AS (SELECT h FROM occ GROUP BY h HAVING count(*) > 1),
       |covered AS (
       |  SELECT DISTINCT $idExpr, c.cpos
       |  FROM occ JOIN dup USING (h), unnest(generate_series(occ.pos, occ.pos + ${k - 1})) AS c(cpos)),
       |runs AS (
       |  SELECT $idExpr, cpos,
       |         cpos - row_number() OVER (PARTITION BY $idExpr ORDER BY cpos) AS island
       |  FROM covered)
       |SELECT $idExpr, CAST(min(cpos) AS BIGINT) AS span_start,
       |       CAST(max(cpos) AS BIGINT) AS span_end,
       |       CAST(max(cpos) - min(cpos) + 1 AS BIGINT) AS span_len
       |FROM runs GROUP BY $idExpr, island""".stripMargin

  /** DuckDB mirror of [[removeDuplicatedSpans]]. Token positions are
    * 0-based on both engines (generate_series shifted); the aggregate
    * reassembly is `string_agg(... ORDER BY pos)` ≡ the struct-sorted
    * `collect_list`; coalesce handles the no-survivor and no-dup
    * docs identically (string_agg over zero rows is NULL, Spark's
    * concat_ws over an all-null collect is '').
    */
  def removeDuplicatedSpansSql(table: String, idExpr: String, textExpr: String,
      k: Int): String =
    s"""WITH d AS (
       |  SELECT $idExpr, string_split($textExpr, ' ') AS toks FROM $table),
       |occ AS (
       |  SELECT $idExpr, j - 1 AS pos,
       |         ${shingleBaseHashSql(s"array_to_string(toks[j : j + ${k - 1}], ' ')")} AS h
       |  FROM d, unnest(generate_series(1, len(toks) - ${k - 1})) AS t(j)
       |  WHERE len(toks) >= $k),
       |dup AS (SELECT h FROM occ GROUP BY h HAVING count(*) > 1),
       |covered AS (
       |  SELECT DISTINCT $idExpr, c.cpos
       |  FROM occ JOIN dup USING (h), unnest(generate_series(occ.pos, occ.pos + ${k - 1})) AS c(cpos)),
       |tp AS (
       |  SELECT $idExpr, j - 1 AS pos, toks[j] AS tok
       |  FROM d, unnest(generate_series(1, len(toks))) AS t(j)),
       |m AS (
       |  SELECT tp.$idExpr, tp.pos, tp.tok, covered.cpos
       |  FROM tp LEFT JOIN covered
       |    ON tp.$idExpr = covered.$idExpr AND tp.pos = covered.cpos)
       |SELECT $idExpr, count(*) AS n_tokens, count(cpos) AS n_dup_tokens,
       |       coalesce(string_agg(CASE WHEN cpos IS NULL THEN tok END, ' ' ORDER BY pos), '') AS clean_text
       |FROM m GROUP BY $idExpr""".stripMargin

  /** Capture–recapture audit of dedup coverage (Chapman's estimator):
    * run TWO independent near-dup detectors over the same corpus and
    * estimate, from their overlap, how many true duplicate pairs
    * exist IN TOTAL — including the ones neither detector caught:
    * {{{ N̂ = (a+1)(b+1) div (m+1) − 1 }}}
    * (a, b = each detector's pair count, m = pairs both found; the
    * +1s are Chapman's bias correction, exact in integers). Each
    * detector's estimated recall is `count·10⁶ div N̂`. The standard
    * ecology trick applied to the "how much duplication is my
    * pipeline MISSING" question a dedup audit actually asks —
    * q_minhash_recall measures recall against planted truth; this
    * estimates it when no truth exists, assuming detector
    * independence (minhash = shingle overlap, simhash = token-
    * frequency profile — different failure modes).
    *
    * Shape: canonicalize + distinct both pair tables, one pair-keyed
    * join for the overlap, three 1-row counts folded via cross joins
    * of broadcast singletons. Pairs, never corpus².
    *
    * `inputsCanonical = true` (round-16, guide §2.4) skips the
    * canonicalize + distinct pass — a full pair-table exchange and two
    * hash aggregates PER SIDE — for callers whose detectors already
    * emit distinct `idA < idB` pairs. Both shipped detectors do:
    * [[minhashLshCandidatesFromShingles]] ends
    * `filter(id_a < id_b).distinct()`, and
    * [[simhashPairsFromFingerprints]] ends
    * `filter(id_a < id_b)…distinct()` over (id_a, id_b, hamming)
    * where hamming is a function of the pair (one fingerprint per id),
    * so the triple's distinct IS the pair's. The Chapman estimate is
    * unchanged; the flag only removes a provably-idempotent pass.
    * Default false — arbitrary pair tables keep the normalization.
    */
  def captureRecapture(pairsA: DataFrame, pairsB: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      inputsCanonical: Boolean = false): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      if (inputsCanonical) df.select(col(idA).as("a"), col(idB).as("b"))
      else df.select(least(col(idA), col(idB)).as("a"),
        greatest(col(idA), col(idB)).as("b")).distinct()
    // The checkpoint job IS the count (round-16 bridge): each side is
    // materialized once for the overlap probe anyway, so n_a/n_b ride
    // that job as literals instead of two more in-plan aggregates +
    // their broadcast cross joins.
    val (ca, nA, _) = org.apache.spark.sql.graftbridge.Bridge
      .localCheckpointWithCount(canon(pairsA))
    val (cb, nB, _) = org.apache.spark.sql.graftbridge.Bridge
      .localCheckpointWithCount(canon(pairsB))
    ca.join(cb, Seq("a", "b")).agg(count(lit(1)).as("n_both"))
      .select(lit(nA).as("n_a"), lit(nB).as("n_b"), col("n_both"))
      .select(col("n_a"), col("n_b"), col("n_both"),
        (expr("(n_a + 1) * (n_b + 1) div (n_both + 1)") - 1).as("est_total"))
      .select(col("n_a"), col("n_b"), col("n_both"), col("est_total"),
        when(col("est_total") <= 0, lit(null).cast("long"))
          .otherwise(expr("n_a * 1000000L div est_total")).as("recall_a_ppm"),
        when(col("est_total") <= 0, lit(null).cast("long"))
          .otherwise(expr("n_b * 1000000L div est_total")).as("recall_b_ppm"))
  }
}
