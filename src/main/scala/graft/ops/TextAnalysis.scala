package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language identification,
  * document fingerprinting. All are pure `Column` programs (codegen'd,
  * no UDFs) and have exact ANSI-SQL mirrors for the DuckDB oracle —
  * at 100 TB these run as map-only stages fused into the scan.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokensWs(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(tokensWs(text))

  /** BPE-ish regex token count: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token (the pre-merge
    * vocabulary of byte-pair encoders). Regex kept in the common
    * Java/RE2 dialect subset for oracle parity.
    */
  def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "on", "for")

  /** Stopword count over whitespace tokens — codegen'd set-membership
    * pass ([[graft.expr.CountInSetExpr]]); `OpsSpec.stopwordCountHof`
    * is the interpreted parity reference.
    */
  def stopwordCount(text: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    graft.expr.TextExprs.count_in_set(tokensWs(text), stopwords)

  /** Quality signals: length, token count, punctuation ratio, stopword
    * ratio, mean token length. Ratios are single divisions of exact
    * counts — deterministic across engines.
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val nTokens = tokenCountWs(text)
    val nPunct = nChars - length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTokens,
      "punct_ratio" -> nPunct.cast("double") / nChars,
      "stopword_ratio" -> stopwordCount(text).cast("double") / nTokens,
      "mean_token_len" -> (nChars - nTokens + 1).cast("double") / nTokens)
  }

  // Marker stopwords per language for the n-gram-free word heuristic
  // (deterministic, tiny, fully SQL-expressible).
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "la", "de", "que", "los"))

  private def markerCount(toks: Column, markers: Seq[String]): Column =
    graft.expr.TextExprs.count_in_set(toks, markers)

  /** Language identification: CJK by codepoint range, else a cascade
    * over marker-word counts — a language wins if its count is positive
    * and ≥ every later language's count (so ties break in the fixed
    * order en > de > fr > es); "und" when nothing matches. The CASE
    * structure is mirrored literally in [[languageIdSql]].
    */
  def languageId(text: Column): Column = {
    val toks = tokensWs(text)
    val scores = LangMarkers.map { case (l, ms) => l -> markerCount(toks, ms) }
    val cascade = scores.zipWithIndex.foldLeft(when(lit(false), "und")) {
      case (acc, ((l, s), i)) =>
        val laterGe = scores.drop(i + 1).map(_._2).foldLeft(s > 0) { (c, other) => c && s >= other }
        acc.when(laterGe, l)
    }
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), "zh").otherwise(cascade.otherwise("und"))
  }

  /** The identical heuristic in DuckDB SQL over a text expression. */
  def languageIdSql(textExpr: String): String = {
    val toks = s"string_split($textExpr, ' ')"
    def cnt(ms: Seq[String]) =
      s"len(list_filter($toks, w -> w IN (${ms.map(m => s"'$m'").mkString(", ")})))"
    val scores = LangMarkers.map { case (l, ms) => l -> cnt(ms) }
    val whens = scores.zipWithIndex.map { case ((l, c), i) =>
      val laterGe = (s"$c > 0" +: scores.drop(i + 1).map(o => s"$c >= ${o._2}")).mkString(" AND ")
      s"WHEN $laterGe THEN '$l'"
    }
    s"""CASE WHEN regexp_matches($textExpr, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |${whens.mkString(" ")} ELSE 'und' END""".stripMargin.replace("\n", " ")
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, adapted
    * to word granularity — this corpus is single-line, so the paper's
    * line-based rules are vacuous here): token counts, distinct-token
    * count, the highest single-token frequency (codegen'd one-pass
    * kernel, [[graft.expr.TopTokenCountExpr]]), duplicate-bigram count
    * (`size − size∘distinct` over 2-gram shingles — no frequency map
    * needed), and the top-token fraction as the one ratio (a single
    * division of exact counts). All map-only Column programs; the
    * DuckDB mirrors live in the q_repetition oracle.
    */
  def repetitionColumns(text: Column): Seq[(String, Column)] = {
    val toks = tokensWs(text)
    val top = graft.expr.TextExprs.top_token_count(toks)
    val sh2 = Dedup.shinglesFromTokens(toks, 2)
    Seq(
      "n_tokens" -> size(toks).cast("long"),
      "n_distinct_tokens" -> size(array_distinct(toks)).cast("long"),
      "top_token_count" -> top,
      "dup_bigram_count" -> (size(sh2) - size(array_distinct(sh2))).cast("long"),
      "top_token_frac" -> top.cast("double") / size(toks))
  }

  /** Per-document keywords by GLOBAL rarity: the k tokens of each doc
    * with the lowest corpus document-frequency (ties → lexicographic).
    * This is TF-IDF's ranking with the float log dropped — pure
    * integer ordering (df asc, token asc), so the result is
    * bit-identical across engines, which `tf·ln(N/df)` is not (libm
    * vs DuckDB log may differ in the last ulp and flip ranks).
    *
    * Plan shape: one explode → two hash aggregations (tf per (doc,
    * token), df per token) → broadcast-or-shuffle join → per-DOC
    * window top-k. The window partitions by doc_id, so no global sort
    * exists anywhere; df is corpus-wide but only |vocab| rows.
    * Output: (idCol, token, tf, df).
    */
  def rareTokens(df: DataFrame, idCol: String, text: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = graft.util.Parallelism.ensure(df)
      .select(col(idCol), explode(tokensWs(text)).as("token"))
    val tf = e.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("df").asc, col("token").asc)
    tf.join(dfreq, Seq("token"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"))
  }

  private val FpMod = 1000000007L

  /** Document fingerprint: polynomial rolling hash over whitespace
    * tokens, each token coded by the first 8 hex digits of its MD5.
    * h ← (h·31 + code) mod 1e9+7, folded LEFT-TO-RIGHT — DuckDB's
    * `list_reduce` mirror folds sequentially over exact integers, so
    * the result is bit-identical across engines. Codegen'd
    * ([[graft.expr.TokenFingerprintExpr]]) — the Column-algebra fold
    * ran an interpreted md5 lambda per token; `OpsSpec.fingerprintHof`
    * is the parity reference.
    */
  def fingerprint(text: Column): Column =
    graft.expr.TextExprs.token_fingerprint(tokensWs(text))

  /** The identical fingerprint in DuckDB SQL. */
  def fingerprintSql(textExpr: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split($textExpr, ' '),
       |      w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT))),
       |  (h, x) -> (h * 31 + x) % $FpMod)""".stripMargin.replace("\n", " ")

  /** Global top-k n-grams by frequency — corpus vocabulary/phrase
    * statistics (the LM-data profiling staple). One explode, one
    * partial+final hash aggregate, then a top-k that Catalyst executes
    * as TakeOrderedAndProject (per-partition heaps + driver merge of k
    * rows — no global sort materializes). Deterministic tie-break on
    * the n-gram text.
    */
  def topNgrams(df: DataFrame, text: Column, n: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(explode(Dedup.shingles(text, n)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram")).limit(k)
  }

  // ---- overlapping token-window chunking ----------------------------

  /** Split each document into overlapping token windows — the
    * training/RAG splitter: chunk k covers tokens
    * `[k·stride, k·stride + chunkTokens)`, so consecutive chunks
    * share `chunkTokens − stride` tokens of context. Output
    * `(id, chunk_idx, chunk_text, n_tokens)`; the final chunk may be
    * shorter. NULL text emits nothing; an empty string emits ONE
    * empty chunk (whitespace split of "" is [""] — one empty token —
    * on Spark and DuckDB alike; filter upstream if that row is
    * unwanted). Contrast [[graft.ops.Windows.packChunks]], which
    * assigns whole documents to fixed budgets — this slices WITHIN
    * documents.
    *
    * Map-only: one `transform(sequence)` + posexplode per doc, no
    * shuffle, no state — the shape survives any corpus size. All
    * arithmetic integral (offsets, slice bounds), so the DuckDB
    * mirror is bit-exact with no float anywhere.
    */
  def chunkTokens(df: DataFrame, idCol: String, text: Column,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(stride > 0 && stride <= chunkTokens,
      s"stride must be in [1, chunkTokens] (overlap = chunkTokens - stride), got $stride")
    df.select(col(idCol), tokensWs(text).as("__toks"))
      // guard BEFORE sequence(): Spark's sequence(0, -1) helpfully
      // infers step -1 and yields [0, -1] for an empty doc
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, (size(__toks) - 1) div $stride), " +
          s"k -> array_join(slice(__toks, k * $stride + 1, $chunkTokens), ' '))")))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk_text"),
        (size(split(col("col"), " "))).cast("long").as("n_tokens"))
  }

  /** DuckDB mirror of [[chunkTokens]] (list slice ≡ Spark `slice`,
    * both clamp past the end; `range` end-exclusive ≡ the sequence
    * bound; floor division on the non-negative n−1 ≡ `div`).
    */
  def chunkTokensOracleSql(table: String, idExpr: String, textExpr: String,
      chunkTokens: Int, stride: Int): String =
    s"""WITH d AS (
       |  SELECT $idExpr, string_split($textExpr, ' ') AS toks,
       |         len(string_split($textExpr, ' ')) AS n
       |  FROM $table),
       |nonempty AS (SELECT * FROM d WHERE n > 0)
       |SELECT $idExpr, k AS chunk_idx,
       |       array_to_string(toks[k * $stride + 1 : k * $stride + $chunkTokens], ' ') AS chunk_text,
       |       len(toks[k * $stride + 1 : k * $stride + $chunkTokens]) AS n_tokens
       |FROM nonempty, UNNEST(range(0, (n - 1) // $stride + 1)) AS t(k)""".stripMargin

  // ---- BM25 retrieval scoring ---------------------------------------

  /** One BM25 term component as a SQL fragment over columns
    * `__tf{i}` (term frequency), `__len` (doc tokens), `__n` (corpus
    * docs), `__df{i}` (docs containing the term), `__sumlen` (total
    * tokens) — the IDENTICAL text evaluates on Spark and DuckDB, so
    * the two engines execute the same floating-point expression tree
    * in the same order (the q_scoring precedent: ln/÷ agree to well
    * under the 6-dp round; sums are a FIXED-ORDER chain of k terms,
    * never a data-ordered aggregate). idf is the BM25+ always-positive
    * form ln(1 + (N − df + ½)/(df + ½)).
    */
  def bm25TermSql(i: Int, k1: Double, b: Double): String =
    s"(CASE WHEN __tf$i > 0 THEN ln(1 + (__n - __df$i + 0.5)/(__df$i + 0.5)) * " +
      s"(__tf$i * ($k1 + 1)) / (__tf$i + $k1 * (1 - $b + $b * __len / " +
      s"(CAST(__sumlen AS DOUBLE) / __n))) ELSE 0.0 END)"

  /** BM25 relevance of every document against a STATIC term set
    * (Robertson-Spärck Jones; k1/b the classic defaults) — the
    * retrieval primitive for corpus curation ("score documents
    * against the eval-set keywords"). Returns `(id, bm25)` for
    * documents matching ≥1 term, score rounded to 6 dp for
    * cross-engine hash equality.
    *
    * Plan shape: ONE map pass computes per-term tf columns (k
    * higher-order filters per doc — k is query-sized, single digits),
    * ONE 1-row aggregate collects N/avg-length/per-term df
    * (map-side combined), broadcast back, second map pass evaluates
    * the fixed-order score chain. The corpus is scanned twice, no
    * shuffle beyond the 1-row agg — survives any corpus size for a
    * bounded term set.
    */
  def bm25(df: DataFrame, idCol: String, text: Column, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one term")
    require(terms.forall(t => t.nonEmpty && !t.contains("'") && !t.contains("\\")),
      s"terms must be non-empty and quote-free, got $terms")
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1 > 0, b in [0,1]; got k1=$k1 b=$b")
    val toks = tokensWs(text)
    val base = df.select(col(idCol), toks.as("__toks"), size(toks).cast("long").as("__len"))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      expr(s"size(filter(__toks, x -> x = '$t'))").cast("long").as(s"__tf$i")
    }
    val tf = base.select(col(idCol) +: col("__len") +: tfCols: _*)
    val statAggs = sum(col("__len")).as("__sumlen") +: count(lit(1)).as("__n") +:
      terms.indices.map(i => sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = tf.agg(statAggs.head, statAggs.tail: _*)
    tf.crossJoin(broadcast(stats))
      .filter(terms.indices.map(i => col(s"__tf$i") > 0).reduce(_ || _))
      .select(col(idCol),
        round(expr(terms.indices.map(i => bm25TermSql(i, k1, b)).mkString(" + ")), 6)
          .as("bm25"))
  }

  /** DuckDB mirror of [[bm25]] — tf/df CTEs in DuckDB's dialect, the
    * scoring chain from the SAME [[bm25TermSql]] fragments.
    */
  def bm25OracleSql(table: String, idExpr: String, textExpr: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): String = {
    require(terms.nonEmpty, "bm25OracleSql needs at least one term")
    require(terms.forall(t => t.nonEmpty && !t.contains("'") && !t.contains("\\")),
      s"terms must be non-empty and quote-free (they interpolate into SQL literals), got $terms")
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(string_split($textExpr, ' '), x -> x = '$t')) AS __tf$i"
    }
    val dfs = terms.indices.map(i =>
      s"CAST(sum(CASE WHEN __tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS __df$i")
    s"""WITH tf AS (
       |  SELECT $idExpr, len(string_split($textExpr, ' ')) AS __len,
       |         ${tfs.mkString(",\n         ")}
       |  FROM $table),
       |st AS (
       |  SELECT CAST(sum(__len) AS BIGINT) AS __sumlen, count(*) AS __n,
       |         ${dfs.mkString(",\n         ")}
       |  FROM tf)
       |SELECT $idExpr, round(${terms.indices.map(i => bm25TermSql(i, k1, b)).mkString(" + ")}, 6) AS bm25
       |FROM tf, st
       |WHERE ${terms.indices.map(i => s"__tf$i > 0").mkString(" OR ")}""".stripMargin
  }

  /** Unigram language-model scoring: score every `df` document by the
    * add-one-smoothed unigram model of a REFERENCE corpus — the
    * classic LM-based quality filter (CCNet scores documents under a
    * clean-corpus KenLM; the unigram model is its first-order term,
    * and the operator shape — train stats on ref, score the corpus —
    * is identical for higher orders). Per token:
    * `ln((cnt_ref + 1) / (total_ref + |V|))`, floored to integer
    * MICRO-nats so the per-doc sum is an exact BIGINT aggregate
    * (order-independent across engines/partitions; a double sum would
    * not be). Returns `(id, n_tokens, logprob_unat)` for documents
    * with ≥1 whitespace token; out-of-vocabulary tokens take the
    * `cnt = 0` smoothing mass, so held-out text scores lower — the
    * signal the filter thresholds on.
    *
    * Plan shape: ref vocabulary is one hash agg; its 1-row (total,|V|)
    * stats broadcast; the corpus tokens LEFT-join the vocabulary on
    * the token hash (shuffle hash join at corpus scale — the vocab is
    * itself too big to broadcast at 100 TB); one final per-doc hash
    * agg. No window, no pair blow-up; OOV handling is a coalesce, not
    * a second pass.
    */
  def lmUnigramScore(df: DataFrame, idCol: String, text: Column,
      ref: DataFrame, refText: Column): DataFrame = {
    // eager checkpoint: both consumers (the token join and the 1-row
    // stats agg) read the |V|-sized vocab once — without it Spark
    // re-executes the full ref-corpus explode+agg subtree for each
    // consumer (two corpus scans instead of one).
    val vocab = ref.select(explode(tokensWs(refText)).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy("__tok").agg(count(lit(1)).as("__cnt"))
      .localCheckpoint(true)
    val stats = vocab.agg(sum("__cnt").as("__total"), count(lit(1)).as("__v"))
    df.select(col(idCol), explode(tokensWs(text)).as("__tok"))
      .filter(col("__tok") =!= "")
      .join(vocab, Seq("__tok"), "left")
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        floor(log((coalesce(col("__cnt"), lit(0L)) + 1).cast("double") /
          (col("__total") + col("__v")).cast("double")) * 1e6).cast("long").as("__unat"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("__unat").as("logprob_unat"))
  }

  /** Bigram language-model scoring with STUPID BACKOFF (Brants et al.
    * 2007) — the second-order upgrade of [[lmUnigramScore]], and the
    * backoff the web-scale MT work showed needs no discounting: score
    * position i by `S(wᵢ|wᵢ₋₁) = c(wᵢ₋₁wᵢ)/c(wᵢ₋₁)` when the bigram
    * was seen in the REFERENCE corpus, else back off to
    * `α·(c(wᵢ)+1)/(N+|V|)` (add-one unigram, α = alphaNum/alphaDen);
    * the document's first token scores by the unigram model alone.
    * Returns `(id, n_tokens, n_bigram_hits, logprob_unat)` — the hit
    * count separates "fluent but novel" from "out-of-domain", the two
    * signals an LM quality filter thresholds jointly.
    *
    * Exactness discipline: α is carried as a RATIONAL, so every score
    * is `ln` of a single integer-over-integer double division —
    * `ln(c₂/c₁)` or `ln(αNum·(c+1) / (αDen·(N+|V|)))` — one
    * fixed-order IEEE chain from identical BIGINTs on both engines,
    * floored to micro-nats BEFORE the per-doc sum (the
    * [[lmUnigramScore]] contract: integer sums are order-independent,
    * double sums are not).
    *
    * Scale shape: bigram AND unigram tables are one hash agg each over
    * the reference slice (bigrams built MAP-SIDE by the
    * [[collocations]] zip trick — never a position self-join); the
    * corpus pair stream left-joins bigrams on (w₁,w₂) and unigrams on
    * each side (shuffle hash joins — LM tables don't broadcast at
    * corpus scale); (N,|V|) broadcasts from one row; one per-doc agg.
    */
  def lmBigramScore(df: DataFrame, idCol: String, text: Column,
      ref: DataFrame, refText: Column,
      alphaNum: Long = 2L, alphaDen: Long = 5L): DataFrame = {
    require(alphaNum > 0 && alphaDen > 0 && alphaNum < alphaDen,
      s"need 0 < alphaNum < alphaDen, got $alphaNum/$alphaDen")
    val refToks = ref.select(filter(tokensWs(refText), t => t =!= "").as("__ts"))
      .localCheckpoint(true) // one materialized tokenization feeds both aggs
    val uni = refToks.select(explode(col("__ts")).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    val big = refToks
      .select(explode(zip_with(
        slice(col("__ts"), lit(1), greatest(size(col("__ts")) - 1, lit(0))),
        slice(col("__ts"), lit(2), greatest(size(col("__ts")) - 1, lit(0))),
        (a, b) => struct(a.as("a"), b.as("b")))).as("__p"))
      .groupBy(col("__p.a").as("__a"), col("__p.b").as("__b"))
      .agg(count(lit(1)).as("__c2"))
    val stats = uni.agg(sum("__c").as("__total"), count(lit(1)).as("__v"))
    val docToks = df.select(col(idCol).as("__id"),
        filter(tokensWs(text), t => t =!= "").as("__ts"))
      .filter(size(col("__ts")) >= 1)
    // add-one unigram term, shared by the first token and the backoff
    def uniUnat(cnt: Column, num: Long, den: Long): Column =
      floor(log((lit(num) * (coalesce(cnt, lit(0L)) + 1)).cast("double") /
        (lit(den) * (col("__total") + col("__v"))).cast("double")) * 1e6).cast("long")
    val firsts = docToks.select(col("__id"), element_at(col("__ts"), 1).as("__w"))
      .join(uni.select(col("__tok").as("__w"), col("__c")), Seq("__w"), "left")
      .crossJoin(broadcast(stats))
      .select(col("__id"), uniUnat(col("__c"), 1L, 1L).as("__unat"), lit(0L).as("__hit"))
    val pairs = docToks
      .select(col("__id"), explode(zip_with(
        slice(col("__ts"), lit(1), greatest(size(col("__ts")) - 1, lit(0))),
        slice(col("__ts"), lit(2), greatest(size(col("__ts")) - 1, lit(0))),
        (a, b) => struct(a.as("a"), b.as("b")))).as("__p"))
      .select(col("__id"), col("__p.a").as("__a"), col("__p.b").as("__b"))
      .join(big, Seq("__a", "__b"), "left")
      .join(uni.select(col("__tok").as("__a"), col("__c").as("__ca")), Seq("__a"), "left")
      .join(uni.select(col("__tok").as("__b"), col("__c").as("__cb")), Seq("__b"), "left")
      .crossJoin(broadcast(stats))
      .select(col("__id"),
        when(col("__c2").isNotNull,
          floor(log(col("__c2").cast("double") / col("__ca").cast("double")) * 1e6)
            .cast("long"))
          .otherwise(uniUnat(col("__cb"), alphaNum, alphaDen)).as("__unat"),
        when(col("__c2").isNotNull, 1L).otherwise(0L).as("__hit"))
    firsts.unionByName(pairs)
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum("__hit").as("n_bigram_hits"),
        sum("__unat").as("logprob_unat"))
  }

  /** Jensen–Shannon divergence between the token distributions of two
    * corpus slices — the drift monitor of a training-data pipeline:
    * train-vs-validation mix skew, yesterday-vs-today crawl drift,
    * source-vs-source imbalance. Returns ONE row `(n_types_a,
    * n_types_b, n_common, jsd2_pnat)` where `jsd2_pnat = Σ_tokens
    * ⌊pₐ·ln(2pₐ/(pₐ+p_b))·10¹²⌋ + ⌊p_b·ln(2p_b/(pₐ+p_b))·10¹²⌋` —
    * exactly 2·JSD in pico-nats, so `JSD = jsd2_pnat / 2e12` nats
    * (0 for identical distributions, ln 2 max). Per-token terms are
    * floored to integer pico-nats BEFORE the sum — order-independent
    * BIGINT aggregation, bit-identical on any engine evaluating the
    * same fixed-order chain (the [[lmUnigramScore]] discipline;
    * pico resolution keeps the total truncation under 10⁻⁶ nats per
    * million types).
    *
    * Scale shape: one hash agg per slice, one full-outer token join,
    * the two 1-row totals broadcast, one 1-row final agg. Nothing is
    * driver-sided and no state exceeds the vocabulary.
    */
  def distributionDrift(a: DataFrame, aText: Column,
      b: DataFrame, bText: Column): DataFrame = {
    def counts(df: DataFrame, text: Column) =
      df.select(explode(tokensWs(text)).as("__tok"))
        .filter(col("__tok") =!= "")
        .groupBy("__tok").agg(count(lit(1)).as("__c"))
    val ca = counts(a, aText).localCheckpoint(true)
    val cb = counts(b, bText).localCheckpoint(true)
    val ta = ca.agg(sum("__c").as("__ta"))
    val tb = cb.agg(sum("__c").as("__tb"))
    val joined = ca.select(col("__tok"), col("__c").as("__a"))
      .join(cb.select(col("__tok"), col("__c").as("__b")), Seq("__tok"), "full_outer")
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
    val x = coalesce(col("__a"), lit(0L)).cast("double") / col("__ta").cast("double")
    val y = coalesce(col("__b"), lit(0L)).cast("double") / col("__tb").cast("double")
    val t1 = when(coalesce(col("__a"), lit(0L)) > 0,
      floor(x * log((x + x) / (x + y)) * 1e12).cast("long")).otherwise(0L)
    val t2 = when(coalesce(col("__b"), lit(0L)) > 0,
      floor(y * log((y + y) / (x + y)) * 1e12).cast("long")).otherwise(0L)
    joined.agg(
      sum(when(col("__a").isNotNull, 1L).otherwise(0L)).as("n_types_a"),
      sum(when(col("__b").isNotNull, 1L).otherwise(0L)).as("n_types_b"),
      sum(when(col("__a").isNotNull && col("__b").isNotNull, 1L).otherwise(0L))
        .as("n_common"),
      sum(t1 + t2).as("jsd2_pnat"))
  }

  /** Per-document unigram entropy pieces — the diversity signal
    * (low-entropy docs are boilerplate/keyword-stuffing; Gopher-class
    * filters threshold on it). Returns `(id, n_tokens, n_types,
    * clogc_unat)` where `clogc_unat = Σ_types ⌊c·ln(c)·10⁶⌋`: the
    * entropy is `H = ln(n) − clogc/(10⁶·n)` nats, but the OUTPUT stays
    * all-BIGINT — each term floors BEFORE the sum, so the aggregate is
    * order-independent and engine-exact (the [[lmUnigramScore]]
    * discipline; a double Σ c·ln c would hash-diverge).
    *
    * Plan shape: explode → (id, token) hash agg → per-id hash agg,
    * both map-side partial. No window, no join.
    */
  def tokenEntropy(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.select(col(idCol), explode(tokensWs(text)).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col(idCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(idCol)
      .agg(
        sum("__c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(floor(log(col("__c").cast("double")) * col("__c") * 1e6).cast("long"))
          .as("clogc_unat"))

  // ---- PII redaction ------------------------------------------------

  /** Conservative PII patterns, restricted to syntax that means the
    * same thing in Java regex (Spark) and RE2 (DuckDB): character
    * classes, bounded quantifiers, \b. Order matters — emails carry
    * digits and dots, so they redact before IPs and digit runs.
    */
  private val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b" -> "<IP>",
    "[0-9]{10,}" -> "<NUM>")

  /** Redact emails, IPv4 addresses, and 10+-digit runs (account/phone
    * numbers) — the standard scrub a corpus gets before training
    * (cf. the public C4/Dolma pipelines). Map-only `regexp_replace`
    * chain: stays inside whole-stage codegen, composes with pushdown.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, rep)) => regexp_replace(c, pat, rep) }

  /** The identical redaction in DuckDB SQL (RE2 needs the 'g' flag for
    * replace-all; Spark replaces all by default). DuckDB string
    * literals are standard-conforming — backslashes pass through
    * verbatim, so the pattern embeds as-is.
    */
  def redactPiiSql(textExpr: String): String =
    PiiPatterns.foldLeft(textExpr) { case (e, (pat, rep)) =>
      s"regexp_replace($e, '$pat', '$rep', 'g')"
    }

  // ---- HTML boilerplate stripping ------------------------------------

  // Tag-strip patterns, restricted to the Java∩RE2 dialect (inline
  // (?is) flags, \b, non-greedy .*? — all identical in both engines).
  // script/style bodies go FIRST (their content is code, and may hold
  // bare '<'), then comments, then every remaining tag.
  private val HtmlStripPatterns: Seq[String] = Seq(
    "(?is)<script\\b[^>]*>.*?</script>",
    "(?is)<style\\b[^>]*>.*?</style>",
    "(?s)<!--.*?-->",
    "<[^>]+>")

  // Single-pass entity decode: the five XML entities plus &nbsp;.
  // &amp; decodes LAST so '&amp;lt;' yields the literal '&lt;' (the
  // author escaped it; a second pass would un-escape it) — fixed
  // plain-string replaces, same order on both engines.
  private val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Extract readable text from HTML — the first stage of every
    * web-crawl training pipeline (cf. the public C4/CCNet extractors):
    * drop script/style bodies and comments, strip remaining tags to a
    * space, decode the core entities, collapse whitespace. A map-only
    * `regexp_replace`/`replace` chain — stays inside whole-stage
    * codegen and fuses into the scan; at 100 TB this is the
    * bandwidth-bound pass it should be, with zero shuffle.
    */
  def stripHtml(html: Column): Column = {
    val unTagged = HtmlStripPatterns.foldLeft(html)((c, p) => regexp_replace(c, p, " "))
    val decoded = HtmlEntities.foldLeft(unTagged) { case (c, (ent, ch)) =>
      replace(c, lit(ent), lit(ch))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** The identical extraction in DuckDB SQL ('g' + inline flags; plain
    * `replace` for entities; standard-conforming literals need only
    * the quote doubled).
    */
  def stripHtmlSql(htmlExpr: String): String = {
    val unTagged = HtmlStripPatterns.foldLeft(htmlExpr)((e, p) =>
      s"regexp_replace($e, '$p', ' ', 'g')")
    val decoded = HtmlEntities.foldLeft(unTagged) { case (e, (ent, ch)) =>
      val chLit = ch.replace("'", "''")
      s"replace($e, '$ent', '$chLit')"
    }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  // ---- winnowing fingerprints ----------------------------------------

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS algorithm): hash every k-token gram, slide a w-hash
    * window, keep each window's MINIMUM hash. The guarantee: any
    * shared run of ≥ k+w−1 tokens between two documents contributes
    * at least one IDENTICAL selected fingerprint to both — so overlap
    * detection needs only the selected set (≈ 2/(w+1) of all gram
    * hashes), not every gram.
    *
    * Output: `(id, fp)` — the DISTINCT selected fingerprints per
    * document. Documents shorter than k+w−1 tokens have no full
    * window and emit nothing (mirrored in the oracle).
    *
    * Plan shape: map-only — tokens, grams (codegen kernel), per-gram
    * 60-bit md5 hashes, window minima, `array_distinct`, ONE explode.
    * Per-doc dedup via `array_distinct` means no global distinct
    * shuffle: each emitted row is already unique. Intermediates are
    * materialized as bound attributes between selects so lambda
    * bodies reference an attribute, not a re-evaluated subtree (the
    * O(tokens²) trap documented at [[Dedup.shinglesFromTokens]]).
    * Window minima cost O(tokens·w) per doc — w is small (4-8) by
    * construction.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, text: Column,
      k: Int, w: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    // tokenize → k-grams → hash → windowed minima is the heaviest
    // per-row chain in this file; an under-parallel scan layout must
    // not serialize it (ensure: no-op on any healthy layout)
    graft.util.Parallelism.ensure(df)
      .select(col(idCol), tokensWs(text).as("__toks"))
      .filter(size(col("__toks")) >= k + w - 1) // ≥ 1 full window
      .select(col(idCol), Dedup.shinglesFromTokens(col("__toks"), k).as("__g"))
      .select(col(idCol),
        transform(col("__g"), g => Dedup.shingleBaseHash(g)).as("__h"))
      .select(col(idCol), transform(
        sequence(lit(0), size(col("__h")) - w),
        j => array_min(slice(col("__h"), j + lit(1), lit(w)))).as("__w"))
      .select(col(idCol), explode(array_distinct(col("__w"))).as("fp"))
  }

  /** DuckDB mirror of [[winnowFingerprints]] as a CTE chain; the final
    * CTE `winnow_fp` has columns (`idExpr`, fp). List slices are
    * 1-based inclusive on both ends (w elements); `list_min` ≡ Spark
    * `array_min`; the token-length guard keeps the no-full-window
    * cutoff identical.
    */
  def winnowFingerprintsSqlCtes(table: String, idExpr: String, textExpr: String,
      k: Int, w: Int): String =
    s"""wg AS (
       |  SELECT $idExpr, ${Dedup.shinglesSql(textExpr, k)} AS grams
       |  FROM $table WHERE len(string_split($textExpr, ' ')) >= ${k + w - 1}),
       |wh AS (
       |  SELECT $idExpr, list_transform(grams, s -> ${Dedup.shingleBaseHashSql("s")}) AS hs
       |  FROM wg),
       |wm AS (
       |  SELECT $idExpr, list_transform(generate_series(1, len(hs) - ${w - 1}),
       |                                 j -> list_min(hs[j : j + ${w - 1}])) AS wins
       |  FROM wh),
       |winnow_fp AS (
       |  SELECT $idExpr, u.fp FROM wm, unnest(list_distinct(wins)) AS u(fp))""".stripMargin

  /** PMI collocations — corpus-level multiword-expression detection:
    * adjacent token pairs scored by pointwise mutual information
    * `ln(N·c_xy / (c_x·c_y))`, the standard collocation statistic
    * ("new york" scores high because the pair count dwarfs what the
    * unigram frequencies predict). Returns
    * `(tok_a, tok_b, n_pair, pmi_unat)` for pairs with
    * `n_pair ≥ minCount`, PMI floored to integer micro-nats — the
    * [[lmUnigramScore]] exactness discipline: the log is ONE
    * fixed-order IEEE expression over four integer-valued counts, so
    * both engines compute the identical double and the floor makes
    * the row hash-exact (never a data-ordered float sum).
    *
    * Scale shape: bigrams are built MAP-SIDE (a transform over the
    * token array — no self-join on positions), then one hash agg per
    * table (bigram, unigram) and two token-keyed joins; N broadcasts
    * from one row. `minCount` prunes the pair table before the joins.
    */
  def collocations(df: DataFrame, text: Column, minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = df.select(filter(tokensWs(text), t => t =!= "").as("__ts"))
    val uni = toks.select(explode(col("__ts")).as("__tok"))
      .groupBy("__tok").agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    // zip adjacent tokens map-side: (ts[i], ts[i+1]) for i < n-1
    val big = toks
      .select(explode(zip_with(
        slice(col("__ts"), lit(1), greatest(size(col("__ts")) - 1, lit(0))),
        slice(col("__ts"), lit(2), greatest(size(col("__ts")) - 1, lit(0))),
        (a, b) => struct(a.as("a"), b.as("b")))).as("__p"))
      .select(col("__p.a").as("tok_a"), col("__p.b").as("tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val n = uni.agg(sum("__c").as("__n"))
    big
      .join(uni.select(col("__tok").as("tok_a"), col("__c").as("__ca")), Seq("tok_a"))
      .join(uni.select(col("__tok").as("tok_b"), col("__c").as("__cb")), Seq("tok_b"))
      .crossJoin(broadcast(n))
      .select(col("tok_a"), col("tok_b"), col("n_pair"),
        floor(log((col("n_pair") * col("__n")).cast("double") /
          (col("__ca") * col("__cb")).cast("double")) * 1e6).cast("long")
          .as("pmi_unat"))
  }

  /** Per-document TF-IDF keywords: the top-k terms of each document by
    * `tf · ⌊ln(N/df)·10⁶⌋` — the classic document-keyword extractor
    * (cf. [[rareTokens]], which ranks by GLOBAL rarity alone; TF-IDF
    * additionally weighs the document's own term frequency, so a term
    * a doc uses heavily beats an equally-rare term it mentions once).
    * Returns `(id, term, tf, score_unat, rank)`, rank 1..k by
    * (score DESC, term ASC) — a total order, so the result is
    * engine-exact: the idf is ONE fixed-order `ln` of an
    * integer-over-integer division floored to micro-nats, and the
    * tf multiplier stays integral (the [[lmUnigramScore]] discipline).
    *
    * Shape: one (id, token) hash agg, one token-keyed join to the
    * document-frequency table (shuffle — df tables don't broadcast at
    * corpus scale), the 1-row N broadcast, one doc-keyed window for
    * the top-k. Nothing global, no driver action.
    */
  def topTfidfTerms(df: DataFrame, idCol: String, text: Column, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tf = df.select(col(idCol).as("__id"), explode(tokensWs(text)).as("term"))
      .filter(col("term") =!= "")
      .groupBy("__id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // feeds docfreq AND the scoring join
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("__df"))
    val n = tf.agg(countDistinct("__id").as("__n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__id")
      .orderBy(desc("score_unat"), asc("term"))
    tf.join(docFreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score_unat",
        col("tf") * floor(log(col("__n").cast("double") / col("__df").cast("double"))
          * 1e6).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__id").as(idCol), col("term"), col("tf"),
        col("score_unat"), col("rank"))
  }

  /** TF-IDF COSINE rescoring of candidate pairs — lexical-vector
    * similarity between [[graft.ops.Dedup]]'s cheap candidates and an
    * embedding model: each document is the sparse vector
    * `w(term) = tf · ⌊ln(N/df)·100⌋` (integer centi-nat idf), and a
    * candidate pair scores `cos = Σ_shared wₐ·w_b / (‖a‖·‖b‖)` as
    * `cosine_ppm`. Shared boilerplate (df = N ⇒ idf 0) drops out of
    * both the dot and the norms — exactly the property tf-idf is for.
    *
    * Exactness: weights are integers, so the dot and squared norms
    * are ORDER-FREE BIGINT-valued sums (carried in decimal(38,0) ≡
    * HUGEINT); the final chain `⌊dot/(√na·√nb)·10⁶⌋` is fixed-order
    * IEEE from exactly-converted integers — the centi-nat idf
    * resolution is what keeps every aggregate under 2⁵³ so the double
    * conversions are EXACT (guarded per doc with raise_error, the
    * groupCorr discipline; envelope ≈ tf·idf ≤ 2·10⁶ per term and
    * ≤ 10³ distinct terms/doc).
    *
    * Pairs sharing NO positive-idf term are ABSENT (their cosine over
    * informative terms is 0; the inner join never fans). Shape: one
    * tf agg + df agg, the weight table joins the candidate pair list
    * on (doc, term) — candidates·shared-terms rows, never corpus² —
    * plus doc-keyed norm aggs.
    */
  def tfidfCosinePairs(df: DataFrame, idCol: String, text: Column,
      pairs: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val tf = df.select(col(idCol).as("__id"), explode(tokensWs(text)).as("term"))
      .filter(col("term") =!= "")
      .groupBy("__id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true) // feeds docfreq AND the weight join
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("__df"))
    val n = tf.agg(countDistinct("__id").as("__n"))
    val w = tf.join(docFreq, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("__id"), col("term"),
        (col("tf") * floor(log(col("__n").cast("double") / col("__df").cast("double"))
          * 100).cast("long")).as("__w"))
      .filter(col("__w") > 0)
      .localCheckpoint(true) // feeds norms and both pair sides
    val bound = lit("9000000000000000").cast(dec)
    val norms = w.groupBy(col("__id"))
      .agg(sum(col("__w").cast(dec) * col("__w").cast(dec)).as("__n2"))
      .select(col("__id"),
        when(col("__n2") <= bound, col("__n2"))
          .otherwise(raise_error(lit(
            "tfidfCosinePairs envelope exceeded (norm2 <= 9e15): trim or rescale")))
          .as("__n2"))
    val pc = pairs.columns
    val p = pairs.select(col(pc(0)).as("id_a"), col(pc(1)).as("id_b"))
    p.join(w.select(col("__id").as("id_a"), col("term"), col("__w").as("__wa")), Seq("id_a"))
      .join(w.select(col("__id").as("id_b"), col("term"), col("__w").as("__wb")),
        Seq("id_b", "term"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("__wa").cast(dec) * col("__wb").cast(dec)).as("__dot"),
        count(lit(1)).as("n_shared_terms"))
      .join(norms.select(col("__id").as("id_a"), col("__n2").as("__na")), Seq("id_a"))
      .join(norms.select(col("__id").as("id_b"), col("__n2").as("__nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared_terms"),
        floor(col("__dot").cast("double") /
          (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))) * 1e6)
          .cast("long").as("cosine_ppm"))
  }

  /** Skip-gram co-occurrence counts — the word2vec/GloVe training-pair
    * primitive and the windowed generalization of [[collocations]]'
    * adjacent bigrams: every ordered token pair `(tᵢ, tᵢ₊d)` with
    * `1 ≤ d ≤ window` counts once. Returns `(tok_a, tok_b, n_cooc)`
    * for pairs with `n_cooc ≥ minCount` (tok_a is the earlier token —
    * symmetrize downstream if the model wants unordered context).
    *
    * Scale shape: pairs are built MAP-SIDE — one `transform` over the
    * offsets 1..window, each offset a zip of two slices of the SAME
    * token array, flattened and exploded (never a position self-join,
    * which would shuffle the corpus by position); then ONE hash
    * aggregate with map-side partials. Output grows with the distinct
    * pair vocabulary, not the corpus; `minCount` prunes it in the
    * aggregate. All counting — bit-exact on any engine.
    */
  def skipgramCounts(df: DataFrame, text: Column, window: Int,
      minCount: Long): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = df.select(filter(tokensWs(text), t => t =!= "").as("__ts"))
    toks
      .select(explode(flatten(transform(
        sequence(lit(1), lit(window)),
        d => zip_with(
          slice(col("__ts"), lit(1), greatest(size(col("__ts")) - d, lit(0))),
          slice(col("__ts"), d + lit(1), greatest(size(col("__ts")) - d, lit(0))),
          (a, b) => struct(a.as("a"), b.as("b")))))).as("__p"))
      .groupBy(col("__p.a").as("tok_a"), col("__p.b").as("tok_b"))
      .agg(count(lit(1)).as("n_cooc"))
      .filter(col("n_cooc") >= minCount)
  }

  /** Token-id encoding — the bridge from cleaned text to training
    * tensors: each document's whitespace tokens are mapped through a
    * `(token, id)` vocabulary (the [[graft.ops.Windows.denseIdsBy]]
    * build) into an ordered id sequence; out-of-vocabulary tokens take
    * `oovId`. Returns `(id, n_tokens, n_oov, ids)` with `ids` in
    * original token order. Documents with zero (non-empty) tokens are
    * ABSENT from the result — the join-side contract a mirror shares.
    *
    * Scale shape: one posexplode scan, one tokens⋈vocab hash join
    * (vocabulary does NOT broadcast at corpus scale — same contract
    * as [[lmUnigramScore]]), one per-doc hash agg whose
    * `array_sort(struct(pos, id))` orders WITHIN the document only —
    * no window, nothing driver-sided, state bounded by document
    * length.
    */
  def encodeTokens(docs: DataFrame, idCol: String, text: Column,
      vocab: DataFrame, tokCol: String, vocabIdCol: String,
      oovId: Long = 0L): DataFrame = {
    val toks = docs
      .select(col(idCol).as("__doc"),
        posexplode(split(text, " ")).as(Seq("__pos", "__tok")))
      .filter(col("__tok") =!= "")
    toks
      .join(vocab.select(col(tokCol).as("__tok"), col(vocabIdCol).as("__tid")),
        Seq("__tok"), "left")
      .select(col("__doc"), col("__pos"),
        coalesce(col("__tid").cast("long"), lit(oovId)).as("__tid"))
      .groupBy(col("__doc").as(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__tid") === oovId, 1L).otherwise(0L)).as("n_oov"),
        transform(array_sort(collect_list(struct(col("__pos"), col("__tid")))),
          x => x.getField("__tid")).as("ids"))
  }

  /** FIRST-OCCURRENCE NOVELTY — the curation signal behind
    * "deduplicate, then prefer documents that add something": each
    * distinct word-`n`-gram is owned by the LOWEST doc id that
    * contains it (min is order-free and engine-exact; in an
    * ingest-ordered corpus that is "first seen"), and a document's
    * novelty is the fraction of its distinct shingles it owns.
    * Boilerplate and near-copies of earlier documents score near 0;
    * genuinely new material near 10⁶ ppm. Documents with fewer than
    * `n` tokens emit no shingles and drop out (visible, not faked).
    *
    * Shape: one shingle explode + (doc, shingle) distinct, one
    * shingle-keyed min agg, one keyed join back, one doc-keyed agg —
    * all keyed by values whose cardinality grows with the corpus.
    */
  def noveltyScores(docs: DataFrame, idCol: String, text: Column, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    // shingling is the compute-heavy narrow stage before the distinct
    // shuffle; guard against under-parallel scan layouts
    val sh = graft.util.Parallelism.ensure(docs)
      .select(col(idCol).as("__id"),
        explode(Dedup.shingles(text, n)).as("sh"))
      .distinct()
    val firstSeen = sh.groupBy("sh").agg(min("__id").as("__first"))
    sh.join(firstSeen, "sh")
      .groupBy(col("__id").as(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__first") === col("__id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000L) div n_shingles"))
  }

  /** VOCABULARY COVERAGE CURVE — the tokenizer-sizing question "how
    * much of the token stream do the top-V types cover?" answered at
    * each cutoff: types ranked by (freq DESC, token ASC) with
    * [[Windows.denseIdsBy]] (distributed numbering, no global
    * window), then one cutoff-exploded agg over the vocabulary.
    * Coverage is exact ppm against the 1-row broadcast total. The
    * corpus is scanned once (the freq table); everything after is
    * vocabulary-sized.
    */
  def vocabCoverage(docs: DataFrame, text: Column, cutoffs: Seq[Int]): DataFrame = {
    require(cutoffs.nonEmpty, "vocabCoverage needs at least one cutoff")
    require(cutoffs.forall(_ >= 1), s"cutoffs must be >= 1, got $cutoffs")
    val vocab = docs.select(explode(split(text, " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val ranked = Windows.denseIdsBy(vocab,
      Seq(col("freq").desc, col("tok").asc), "rank")
    val total = vocab.agg(sum("freq").as("__total"))
    ranked
      .select(explode(array(cutoffs.map(c => lit(c)): _*)).as("cutoff"),
        col("rank"), col("freq"))
      .filter(col("rank") <= col("cutoff"))
      .groupBy("cutoff")
      .agg(count(lit(1)).as("n_types"), sum("freq").as("covered_tokens"))
      .join(broadcast(total))
      .select(col("cutoff"), col("n_types"), col("covered_tokens"),
        expr("(covered_tokens * 1000000L) div __total").as("coverage_ppm"))
  }

  /** Per-group DISTINCTIVE tokens — the contrastive "domain
    * signature" view ("which tokens mark source A against the rest of
    * the corpus"): lift of the token's in-group rate over its
    * rest-of-corpus rate, exact ppm with +1 smoothing on the rest
    * count so group-exclusive tokens stay finite,
    * {{{ lift_ppm = c_gt · (T − T_g) · 10⁶ / ((c_t − c_gt + 1) · T_g) }}}
    * The numerator rides decimal(38,0) ≡ HUGEINT (corpus-sized
    * products overflow BIGINT past ~sf1); the output ppm is a BIGINT.
    * Top-k per group under (lift DESC, token ASC). Two token-keyed
    * hash aggs + one vocabulary-sized window — the corpus is scanned
    * once.
    */
  def distinctiveTokens(df: DataFrame, groupCol: String, text: Column,
      k: Int, minCount: Long): DataFrame = {
    require(k >= 1 && minCount >= 1, s"need k >= 1 and minCount >= 1")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val toks = df.select(col(groupCol).as("g"), explode(split(text, " ")).as("tok"))
      .filter(col("tok") =!= "")
    val cgt = toks.groupBy("g", "tok").agg(count(lit(1)).as("c_gt"))
    val ct = cgt.groupBy("tok").agg(sum("c_gt").as("c_t"))
    val tg = cgt.groupBy("g").agg(sum("c_gt").as("t_g"))
    val tot = tg.agg(sum("t_g").as("__t"))
    val scored = cgt
      .filter(col("c_gt") >= minCount)
      .join(ct, Seq("tok")).join(tg, Seq("g")).join(broadcast(tot))
      .withColumn("lift_ppm",
        expr(s"CAST((CAST(c_gt AS $dec) * (__t - t_g) * 1000000)" +
          s" div (CAST(c_t - c_gt + 1 AS $dec) * t_g) AS BIGINT)"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("g").orderBy(col("lift_ppm").desc, col("tok").asc)))
      .filter(col("rank") <= k)
      .select(col("g").as(groupCol), col("tok"), col("c_gt").as("n_in_group"),
        col("lift_ppm"), col("rank").cast("long").as("rank"))
  }

  /** CONTENT-DEFINED CHUNKING — boundaries chosen by the CONTENT
    * (rolling hash hits a residue class), not by offset, so an
    * insertion resynchronizes within one window and every later chunk
    * hashes identically (the LBFS/rsync principle, Muthitacharoen et
    * al., SOSP 2001). This is the dedup substrate offset-based
    * chunking ([[chunkText]]) cannot provide: shift a document by one
    * token and offset chunks ALL change, CDC chunks don't.
    *
    * A token at position `p ≥ w` ends a chunk when the w-token
    * rolling hash `Σ_{j=1..w} v(tok_{p−w+j})·B^{j−1} ≡ 0 (mod
    * divisor)` — `v` the md5 hex-prefix value mod 1e6, `B = 31`, all
    * BIGINT-exact (max term 1e6·31³ ≈ 3e10). Expected chunk length ≈
    * `divisor` tokens. Everything is MAP-SIDE array math per document
    * (the [[winnowFingerprints]] discipline — no position self-join,
    * no shuffle until the output explode); emits one row per chunk:
    * `(id, chunk_idx, n_tokens, chunk_hash)`.
    */
  def cdcChunks(df: DataFrame, idCol: String, text: Column,
      window: Int, divisor: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(window <= 8, // the CdcBoundsExpr no-overflow envelope,
      // re-checked here so the API fails before plan construction
      s"window must be <= 8 (rolling-hash no-overflow envelope), got $window")
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    // Boundary scan = graft.expr.CdcExprs.cdcBounds, a codegen'd
    // one-pass rolling-hash kernel. The declarative equivalent —
    // filter(sequence(w, n), p => aggregate(zip_with(slice(__hs,
    // p−w+1, w), [31⁰..31^{w−1}], _*_), 0, _+_) % divisor == 0) —
    // computes the identical positions but in the interpreted HOF
    // evaluator, allocating slice+zip+closure per POSITION (~90% of
    // the old 15 s/query at sf0.1); equality is spec-asserted.
    df.select(col(idCol), filter(tokensWs(text), t => t =!= "").as("__ts"))
      .filter(size(col("__ts")) >= 1)
      .withColumn("__hs", transform(col("__ts"), t =>
        conv(substring(md5(t), 1, 15), 16, 10).cast("long") % 1000000L))
      .withColumn("__bounds",
        graft.expr.CdcExprs.cdcBoundsCol(col("__hs"), window, divisor))
      .withColumn("__cuts",
        array_distinct(concat(col("__bounds"), array(size(col("__ts"))))))
      .select(col(idCol), posexplode(
        transform(sequence(lit(1), size(col("__cuts"))), i => {
          val end = element_at(col("__cuts"), i)
          val start = when(i === 1, lit(1))
            .otherwise(element_at(col("__cuts"), i - 1) + 1)
          slice(col("__ts"), start, end - start + 1)
        })))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        size(col("col")).cast("long").as("n_tokens"),
        md5(array_join(col("col"), " ")).as("chunk_hash"))
  }

  /** SHIFTED-CONTENT near-duplicate pairs via shared [[cdcChunks]]
    * hashes — the payoff of content-defined boundaries: a document
    * that embeds another's text AT ANY OFFSET shares its interior
    * chunks verbatim (offset chunking shares none), so chunk-hash
    * co-occurrence is a shift-invariant containment signal. Returns
    * `(id_a, id_b, n_shared, containment_ppm)` for pairs sharing ≥
    * `minShared` distinct chunks; `containment_ppm` divides by the
    * SMALLER document's distinct-chunk count (pre-cap, truthful).
    *
    * Scale shape: the n-gram-Jaccard discipline — chunk-keyed
    * equi-join, never corpus²; chunks appearing in more than
    * `maxChunkFreq` documents are dropped BEFORE the join (the
    * documented hot-shingle cap: boilerplate chunks would otherwise
    * explode the bucket quadratically; capped chunks censor the same
    * way in the oracle).
    */
  def cdcNearDupPairs(df: DataFrame, idCol: String, text: Column,
      window: Int, divisor: Int, minShared: Int, maxChunkFreq: Int): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxChunkFreq >= 2, s"maxChunkFreq must be >= 2, got $maxChunkFreq")
    val ch = cdcChunks(df, idCol, text, window, divisor)
      .select(col(idCol), col("chunk_hash")).distinct()
      .localCheckpoint(true)
    val kept = ch.join(
      ch.groupBy("chunk_hash").agg(count(lit(1)).as("__f"))
        .filter(col("__f") <= maxChunkFreq).select("chunk_hash"),
      Seq("chunk_hash"))
    val nd = ch.groupBy(idCol).agg(count(lit(1)).as("__n"))
    kept.select(col("chunk_hash"), col(idCol).as("id_a"))
      .join(kept.select(col("chunk_hash"), col(idCol).as("id_b")),
        Seq("chunk_hash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(nd.select(col(idCol).as("id_a"), col("__n").as("__na")), Seq("id_a"))
      .join(nd.select(col(idCol).as("id_b"), col("__n").as("__nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        expr("(n_shared * 1000000L) div least(__na, __nb)").as("containment_ppm"))
  }

  /** DuckDB mirror of [[cdcChunks]] as a CTE chain; the final CTE
    * `cdc_chunks` has columns (`idExpr`, chunk_idx, n_tokens,
    * chunk_hash). Slices are 1-based inclusive in both engines;
    * `generate_series(w, len)` is empty when `len < w` exactly like
    * the guarded Spark sequence.
    */
  def cdcChunksSqlCtes(table: String, idExpr: String, textExpr: String,
      window: Int, divisor: Int): String = {
    val pows = (0 until window).map(j => math.pow(31.0, j).toLong)
      .mkString("[", ", ", "]")
    s"""ct AS (
       |  SELECT $idExpr, list_filter(string_split($textExpr, ' '), x -> x <> '') AS ts
       |  FROM $table),
       |ch AS (
       |  SELECT $idExpr, ts,
       |    list_transform(ts, t ->
       |      CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 1000000) AS hs
       |  FROM ct WHERE len(ts) >= 1),
       |cb AS (
       |  SELECT $idExpr, ts,
       |    -- list_distinct does NOT preserve order in DuckDB (it
       |    -- returned [78, 36] for append([36], 78)) — sort restores
       |    -- the ascending cut order Spark's array_distinct keeps.
       |    list_sort(list_distinct(list_append(
       |      list_filter(generate_series($window, len(ts)), p ->
       |        list_sum(list_transform(generate_series(1, $window),
       |          j -> hs[p - $window + j] * ($pows)[j])) % $divisor = 0),
       |      len(ts)))) AS cuts
       |  FROM ch),
       |cs AS (
       |  SELECT $idExpr, u.i AS i,
       |    ts[CASE WHEN u.i = 1 THEN 1 ELSE cuts[u.i - 1] + 1 END : cuts[u.i]] AS chunk
       |  FROM cb, unnest(generate_series(1, len(cuts))) AS u(i)),
       |cdc_chunks AS (
       |  SELECT $idExpr, CAST(i - 1 AS BIGINT) AS chunk_idx,
       |         CAST(len(chunk) AS BIGINT) AS n_tokens,
       |         md5(list_aggregate(chunk, 'string_agg', ' ')) AS chunk_hash
       |  FROM cs)""".stripMargin
  }

  /** Heaps'-law vocabulary-growth curve — "how fast does the
    * vocabulary grow as the corpus streams in", the pre-training
    * diagnostic that sizes a tokenizer vocab and spots dedup failure
    * (a duplicated corpus grows types far SLOWER than Heaps predicts).
    * Fully distributed, no global sort: each token gets the stable
    * stream index `idx = doc_id·maxDocTokens + pos` (doc-then-position
    * order), a type's first sighting is `min(idx)` — ONE hash agg —
    * and the curve is sampled at power-of-two index thresholds by
    * banding `idx` to its binary length (`length(bin(idx))`, exact in
    * both engines) and cumulating over the ≤64 bands. Output per
    * band b: tokens and distinct types with idx < 2^b, and the exact
    * type/token ppm. Contract: every document has fewer than
    * `maxDocTokens` split positions (ids don't overlap).
    */
  def heapsLaw(docs: DataFrame, idCol: String, text: Column,
      maxDocTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col(idCol).cast("long").as("__id"),
        posexplode(split(text, " ")).as(Seq("__pos", "__tok")))
      .filter(col("__tok") =!= "")
      .select((col("__id") * maxDocTokens + col("__pos")).as("__idx"),
        col("__tok"))
    val tokBands = toks
      .select(length(bin(col("__idx"))).cast("int").as("band"))
      .groupBy("band").agg(count(lit(1)).as("__nt"))
    val typeBands = toks.groupBy("__tok").agg(min("__idx").as("__fidx"))
      .select(length(bin(col("__fidx"))).cast("int").as("band"))
      .groupBy("band").agg(count(lit(1)).as("__ny"))
    val w = Windows.pinnedOrderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokBands.join(typeBands, Seq("band"), "full")
      .select(col("band"), coalesce(col("__nt"), lit(0L)).as("__nt"),
        coalesce(col("__ny"), lit(0L)).as("__ny"))
      .withColumn("n_tokens", sum("__nt").over(w))
      .withColumn("n_types", sum("__ny").over(w))
      .select(col("band"), col("n_tokens"), col("n_types"),
        expr("(n_types * 1000000L) div n_tokens").as("type_token_ppm"))
  }

  /** DuckDB mirror of [[heapsLaw]] as CTEs ending in
    * `heaps(band, n_tokens, n_types, type_token_ppm)`. */
  def heapsLawSqlCtes(table: String, idExpr: String, textExpr: String,
      maxDocTokens: Int): String =
    s"""htk AS (
       |  SELECT CAST($idExpr AS BIGINT) * $maxDocTokens + (u.i - 1) AS idx,
       |         ts[u.i] AS tok
       |  FROM (SELECT $idExpr, string_split($textExpr, ' ') AS ts FROM $table),
       |       unnest(generate_series(1, len(ts))) AS u(i)
       |  WHERE ts[u.i] <> ''),
       |htb AS (SELECT length(bin(idx)) AS band, CAST(count(*) AS BIGINT) AS nt
       |        FROM htk GROUP BY 1),
       |hyb AS (SELECT length(bin(fidx)) AS band, CAST(count(*) AS BIGINT) AS ny
       |        FROM (SELECT tok, min(idx) AS fidx FROM htk GROUP BY 1)
       |        GROUP BY 1),
       |hcum AS (
       |  SELECT coalesce(htb.band, hyb.band) AS band,
       |         coalesce(nt, 0) AS nt, coalesce(ny, 0) AS ny
       |  FROM htb FULL JOIN hyb ON htb.band = hyb.band),
       |heaps AS (
       |  SELECT CAST(band AS INT) AS band,
       |         CAST(sum(nt) OVER w AS BIGINT) AS n_tokens,
       |         CAST(sum(ny) OVER w AS BIGINT) AS n_types,
       |         (CAST(sum(ny) OVER w AS BIGINT) * 1000000)
       |           // CAST(sum(nt) OVER w AS BIGINT) AS type_token_ppm
       |  FROM hcum
       |  WINDOW w AS (ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""".stripMargin

  /** Zipf's-law rank–frequency profile — [[heapsLaw]]'s companion
    * diagnostic (the two laws are duals): under Zipf s≈1 the product
    * `rank·freq` is near-constant, so a band where it collapses marks
    * template/boilerplate flooding and a band where it explodes marks
    * a truncated head. Over the TOP `topK` tokens only (rank is
    * meaningless deep in the tail and a global rank would need a
    * corpus-sized sort): per rank-OCTAVE band (band = bit-length of
    * rank — ≤ log₂(topK)+1 rows out), the exact type count, total
    * band mass, and the min/max of the Zipf invariant `rank·freq`.
    *
    * Plan shape: ONE corpus scan → token hash agg (the vocabulary
    * shuffle every lexical op pays) → distributed top-K
    * (TakeOrderedAndProject: map-side partial top-K, never a global
    * sort) → a topK-row window + ≤16-row agg. The only corpus-sized
    * stage is the token count.
    */
  def zipfProfile(docs: DataFrame, text: Column, topK: Int): DataFrame = {
    require(topK >= 2, s"topK must be >= 2, got $topK")
    val freqs = docs.select(explode(split(text, " ")).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy("__tok").agg(count(lit(1)).as("__f"))
      .orderBy(col("__f").desc, col("__tok").asc)
      .limit(topK)
    freqs
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__f").desc, col("__tok").asc)).cast("long"))
      .withColumn("band", length(bin(col("__r"))).cast("int"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_ranks"),
        sum("__f").as("band_mass"),
        min(col("__r") * col("__f")).as("rf_min"),
        max(col("__r") * col("__f")).as("rf_max"))
  }

  /** RAKE keyphrase extraction (Rose et al. 2010) — the
    * stopword-delimited phrase scorer: candidate phrases are maximal
    * runs of non-stopword tokens, each word scores `degree/freq`
    * (degree = Σ length of phrases containing it — co-occurrence
    * count including self; freq = its phrase-token count), and a
    * phrase scores the SUM of its words' scores. High-degree words
    * riding long multiword phrases win over bare high-frequency
    * words — that is RAKE's whole trick. All integer: per-word score
    * is floor-ppm `deg·1e6 div freq` in decimal(38,0), phrase score
    * the exact sum. Identical phrase TEXTS merge (same text ⇒ same
    * word multiset ⇒ same score); top-K under (score desc, phrase).
    *
    * Plan shape: ONE posexplode scan → per-doc segment ids from a
    * running stopword count (per-doc window, bounded partitions) →
    * word hash agg (vocabulary-sized) joined back → phrase hash agg →
    * text-keyed merge → TakeOrderedAndProject top-K + a K-row window
    * for the rank. No global sort, no driver state.
    */
  def rakeKeyphrases(docs: DataFrame, idCol: String, text: Column,
      stopwords: Seq[String], topK: Int): DataFrame = {
    require(stopwords.nonEmpty && topK >= 1, "need stopwords and topK >= 1")
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val stop = typedLit(stopwords)
    val toks = docs
      .select(col(idCol).cast("long").as("__id"),
        posexplode(split(text, " ")).as(Seq("__pos", "__tok")))
      .filter(col("__tok") =!= "")
      .withColumn("__stop", array_contains(stop, col("__tok")))
    val seg = toks
      .withColumn("__seg", sum(when(col("__stop"), 1L).otherwise(0L))
        .over(Window.partitionBy("__id").orderBy("__pos")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(!col("__stop"))
      .withColumn("__plen", count(lit(1))
        .over(Window.partitionBy("__id", "__seg")))
    val words = seg.groupBy("__tok")
      .agg(count(lit(1)).as("__freq"), sum("__plen").as("__deg"))
      .withColumn("__wscore", {
        val num = col("__deg").cast(dec) * 1000000L
        val den = col("__freq").cast(dec)
        ((num - num % den) / den).cast("long")
      })
    val phrases = seg.join(words.select("__tok", "__wscore"), Seq("__tok"))
      .groupBy("__id", "__seg")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          x => x.getField("__tok")), " ").as("phrase"),
        count(lit(1)).as("__nw"),
        sum("__wscore").as("__score"))
    phrases.groupBy("phrase")
      .agg(max("__nw").as("n_words"),
        count(lit(1)).as("n_occurrences"),
        max("__score").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("phrase").asc)
      .limit(topK)
      .withColumn("rank", row_number().over(
        Windows.pinnedOrderBy(col("score_ppm").desc, col("phrase").asc))
        .cast("long"))
  }

  /** DuckDB mirror of [[rakeKeyphrases]] as CTEs ending in
    * `rake(phrase, n_words, n_occurrences, score_ppm, rank)` with
    * rank already cut to `topK`. */
  def rakeSqlCtes(table: String, idExpr: String, textExpr: String,
      stopwords: Seq[String], topK: Int): String = {
    val stopList = stopwords.mkString("['", "', '", "']")
    s"""rtk AS (
       |  SELECT CAST($idExpr AS BIGINT) AS id, u.i - 1 AS pos, ts[u.i] AS tok
       |  FROM (SELECT $idExpr, string_split($textExpr, ' ') AS ts FROM $table),
       |       unnest(generate_series(1, len(ts))) AS u(i)
       |  WHERE ts[u.i] <> ''),
       |rsg AS (
       |  SELECT id, pos, tok, list_contains($stopList, tok) AS st,
       |         sum(CASE WHEN list_contains($stopList, tok) THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY id ORDER BY pos
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
       |  FROM rtk),
       |rwl AS (
       |  SELECT id, seg, pos, tok,
       |         count(*) OVER (PARTITION BY id, seg) AS plen
       |  FROM rsg WHERE NOT st),
       |rwd AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS freq,
       |         CAST(sum(plen) AS BIGINT) AS deg
       |  FROM rwl GROUP BY 1),
       |rws AS (SELECT tok, (CAST(deg AS HUGEINT) * 1000000) // freq AS wscore
       |        FROM rwd),
       |rsc AS (
       |  SELECT rwl.id, rwl.seg,
       |         string_agg(rwl.tok, ' ' ORDER BY rwl.pos) AS phrase,
       |         CAST(count(*) AS BIGINT) AS nw,
       |         CAST(sum(rws.wscore) AS BIGINT) AS score
       |  FROM rwl JOIN rws USING (tok) GROUP BY 1, 2),
       |rph AS (
       |  SELECT phrase, CAST(max(nw) AS BIGINT) AS n_words,
       |         CAST(count(*) AS BIGINT) AS n_occurrences,
       |         CAST(max(score) AS BIGINT) AS score_ppm
       |  FROM rsc GROUP BY 1),
       |rake AS (
       |  SELECT phrase, n_words, n_occurrences, score_ppm,
       |         CAST(row_number() OVER (ORDER BY score_ppm DESC, phrase)
       |           AS BIGINT) AS rank
       |  FROM rph
       |  QUALIFY rank <= $topK)""".stripMargin
  }

  /** DuckDB mirror of [[zipfProfile]] as CTEs ending in
    * `zipf(band, n_ranks, band_mass, rf_min, rf_max)`. */
  def zipfProfileSqlCtes(table: String, textExpr: String, topK: Int): String =
    s"""zf AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS f
       |  FROM (SELECT unnest(string_split($textExpr, ' ')) AS tok FROM $table)
       |  WHERE tok <> '' GROUP BY 1),
       |zr AS (
       |  SELECT f, CAST(row_number() OVER (ORDER BY f DESC, tok) AS BIGINT) AS r
       |  FROM zf
       |  QUALIFY r <= $topK),
       |zipf AS (
       |  SELECT CAST(length(bin(r)) AS INT) AS band,
       |         CAST(count(*) AS BIGINT) AS n_ranks,
       |         CAST(sum(f) AS BIGINT) AS band_mass,
       |         CAST(min(r * f) AS BIGINT) AS rf_min,
       |         CAST(max(r * f) AS BIGINT) AS rf_max
       |  FROM zr GROUP BY 1)""".stripMargin

  /** Token burstiness — the Fano factor (variance/mean) of a token's
    * per-document counts over the documents it OCCURS in (Church &
    * Gale 1995): ≈1 ppm-million for Poisson "function-word" behavior,
    * ≫1 for topical/bursty tokens that dump many occurrences into few
    * docs — the signal that separates content words from glue and
    * flags template flooding. Exact integral form over per-doc counts
    * `c₁…c_k` (k = doc frequency, S = Σc, SS = Σc²):
    * {{{ fano_ppm = ⌊(k·SS − S²)·10⁶ / (S·k)⌋ }}}
    * (population variance over occurring docs ÷ mean; k·SS ≥ S² by
    * Cauchy–Schwarz so the value is ≥ 0), in decimal(38,0) so the
    * identity holds past 10¹⁵ occurrences. Top-`topK` by
    * (fano desc, token) — deterministic under ties.
    *
    * Shape: one (doc, token) hash agg, one vocabulary-sized token
    * agg, a distributed top-K. No window over the corpus, no join.
    */
  def burstiness(df: DataFrame, idCol: String, text: Column,
      minDf: Long, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val dec = "decimal(38,0)"
    val tc = df.select(col(idCol).as("__id"), explode(tokensWs(text)).as("token"))
      .filter(col("token") =!= "")
      .groupBy("__id", "token").agg(count(lit(1)).as("__c"))
    val st = tc.groupBy("token")
      .agg(count(lit(1)).as("df_docs"), sum("__c").as("n_occ"),
        // SS accumulates in decimal(38,0) INSIDE the sum (the
        // groupTrend/groupCorr idiom): the oracle sums c² in HUGEINT,
        // so a LongType accumulator would ANSI-overflow near 2⁶³
        // where the mirror keeps going — the "holds past 10¹⁵
        // occurrences" claim must cover the accumulator itself.
        sum(col("__c").cast(dec) * col("__c").cast(dec)).as("__ss"))
      .filter(col("df_docs") >= minDf)
    val num = (col("df_docs").cast(dec) * col("__ss").cast(dec) -
      col("n_occ").cast(dec) * col("n_occ").cast(dec)) * lit(1000000L).cast(dec)
    val den = col("n_occ").cast(dec) * col("df_docs").cast(dec)
    st.select(col("token"), col("df_docs"), col("n_occ"),
        ((num - num % den) / den).cast("long").as("fano_ppm"))
      .orderBy(col("fano_ppm").desc, col("token").asc_nulls_last)
      .limit(topK)
  }
}
