package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding subword tokenization (Gage 1994;
  * Sennrich/Haddow/Birch 2016's subword-NMT variant) — the missing
  * piece between the repo's word-level vocabulary
  * ([[graft.ops.Windows.denseIdsBy]] / `TextAnalysis.encodeTokens`)
  * and a real training-data pipeline, which tokenizes SUBWORD.
  *
  * Training is the one loop in this repo that is INHERENTLY serial
  * in its driver decisions: merge i+1's statistics depend on merge
  * i's rewrite, and the merge table IS the model — a driver-sized
  * artifact like the EM m/u tables (the [[graft.linkage.EM]]
  * discipline, not the pageRankExact no-driver-action one). So each
  * round runs ONE distributed job — a keyed pair-count aggregate
  * (exact integer counts, order-independent sums) ending in a 1-row
  * argmax collect — and the winning pair is folded back as a LITERAL
  * single-replace projection (no join, no broadcast, pure codegen).
  * A broadcast-join variant with no per-round driver read was
  * measured 6× slower at sf0.1 (16.4 s vs ~2.5 s): the M lazy 1-row
  * merge frames each re-derived pair aggregates from the nearest
  * checkpoint, ~3× the shuffle stages for zero extra information.
  *
  * Scale shape: the loop state is the DISTINCT-WORD table `(word,
  * freq, sym)` — vocabulary-sized, not corpus-sized, which is what
  * makes corpus-scale BPE training tractable (100 TB of text is
  * millions of distinct whitespace words; the corpus itself is
  * touched ONCE to build the frequency table). The pair aggregate is
  * a keyed shuffle over (pair a, pair b); the merge rewrite is a
  * map-only literal replace, so between checkpoints a round's plan
  * grows by one projection, not a subtree — a checkpoint every 8
  * merges (`MergeEvery`) bounds the replace-chain depth codegen sees.
  *
  * Symbols are represented as a string with DOUBLED separators at
  * every boundary (`␟␟a␟␟b␟␟c␟␟` for symbols [a,b,c], `sep` =
  * U+001F): the merge of pair `(a,b)` is then ONE literal
  * `replace(sym, ␟a␟␟b␟, ␟ab␟)` — a pure codegen string rewrite
  * that is STEP-IDENTICAL in DuckDB ([[bpeSql]] hashes the merge
  * table bit-for-bit). The doubling is what makes a single
  * left-to-right replace-all EXACTLY BPE's leftmost non-overlapping
  * merge: the pattern takes only the INNER separator of each outer
  * boundary (and the replacement restores it), so consecutive
  * occurrences share zero characters and none is starved — with
  * single separators, a match consumes the next occurrence's leading
  * boundary and `␟a␟a␟a␟a␟a␟` mis-merges to [aa, a, aa] instead of
  * [aa, aa, a] (the bug `BpeSpec`'s overlapping-run golden pins).
  * False positives are impossible: symbols never contain the
  * separator, so `␟a␟␟b␟` occurs iff the left symbol is exactly `a`
  * and the right exactly `b`.
  *
  * Ties in the pair count break (count DESC, pair_a ASC, pair_b ASC)
  * — a total order, so training is a pure function of the word
  * frequency table and bit-identical on any engine (binary string
  * comparison on both sides; keep input ASCII-or-NFC upstream).
  */
object Bpe {

  /** Default symbol separator: U+001F (unit separator). */
  val DefaultSep = "\u001f"

  /** Merges between checkpoints of the word table (see the object doc). */
  private val MergeEvery = 8

  /** Seed symbol string for one word: doubled-separator-bounded
    * single characters (`ab` → `␟␟a␟␟b␟␟`).
    */
  private def charSym(word: Column, sep: String): Column =
    concat(lit(sep + sep), regexp_replace(word, "(.)", "$1" + sep + sep))

  /** Adjacent symbol pairs of a separator-bounded `sym` string, one
    * row per POSITION (overlapping occurrences count separately —
    * the classic BPE statistic), weighted by the word frequency.
    */
  private def pairCounts(state: DataFrame, sep: String): DataFrame = {
    val syms = state.withColumn("__syms",
      expr(s"filter(split(sym, '$sep'), x -> x <> '')"))
    syms
      .select(col("freq"), explode(expr(
        "arrays_zip(slice(__syms, 1, size(__syms) - 1), slice(__syms, 2, size(__syms) - 1))"))
        .as("__p"))
      .select(col("__p.0").as("a"), col("__p.1").as("b"), col("freq"))
      .groupBy("a", "b").agg(sum("freq").as("c"))
  }

  /** Train BPE merges over a word-frequency table.
    *
    * @param words two columns: the distinct word and its corpus
    *              frequency (any integral type). Words must be
    *              non-empty and must not contain `sep` — enforced
    *              with an in-scan raise_error, the loud-refusal
    *              discipline (a separator inside a word would corrupt
    *              symbol boundaries silently).
    * @param merges number of merge rounds = learned vocabulary growth.
    * @return (mergeTable, segmented): the merge table
    *         `(merge_no, pair_a, pair_b, merged, pair_count)` in
    *         training order (fewer than `merges` rows when the corpus
    *         runs out of pairs first), and the final word
    *         segmentation `(word, freq, pieces: array<string>)`.
    */
  def bpeTrain(
      words: DataFrame,
      merges: Int,
      sep: String = DefaultSep): (DataFrame, DataFrame) = {
    require(merges > 0, s"merges must be positive, got $merges")
    require(sep.length == 1, s"sep must be a single character, got ${sep.length}")
    val cols = words.columns
    require(cols.length == 2, s"words needs exactly (word, freq) columns, got ${cols.toSeq}")
    val session = words.sparkSession
    val checked = words.select(
      when(col(cols(0)).isNull || col(cols(0)) === "" || col(cols(0)).contains(sep),
        raise_error(concat(lit("bpeTrain: word is null/empty or contains the separator: "),
          col(cols(0)))))
        .otherwise(col(cols(0))).as("word"),
      col(cols(1)).cast("long").as("freq"))
    val init = checked
      .withColumn("sym", charSym(col("word"), sep))
      .localCheckpoint(true)
    val learned = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    val state = Rounds.run("bpeTrain", merges, MergeEvery, init) { cur =>
      // 1-row argmax collect: count DESC, pair ASC — the LPA
      // struct-min idiom; the round's ONLY job. A null struct means
      // the corpus is out of adjacent pairs — stop, the merge table
      // truncates (its row count is part of the model).
      val row = pairCounts(cur, sep)
        .agg(min(struct((-col("c")).as("nc"), col("a"), col("b"))).as("m"))
        .select(col("m.a"), col("m.b"), (-col("m.nc")).as("c"))
        .head()
      if (row.isNullAt(0)) None
      else {
        val (a, b, c) = (row.getString(0), row.getString(1), row.getLong(2))
        learned += ((learned.length + 1, a, b, a + b, c))
        // literal single-replace rewrite — map-only, no join
        Some(cur.withColumn("sym",
          call_function("replace", col("sym"),
            lit(sep + a + sep + sep + b + sep), lit(sep + a + b + sep))))
      }
    }
    import session.implicits._
    val mergeTable = learned.toSeq
      .toDF("merge_no", "pair_a", "pair_b", "merged", "pair_count")
    val segmented = state.select(col("word"), col("freq"),
      expr(s"filter(split(sym, '$sep'), x -> x <> '')").as("pieces"))
    (mergeTable, segmented)
  }

  /** Encode documents through a trained segmentation: whitespace
    * pre-tokenization, a vocabulary-sized hash join to the word's
    * piece sequence, and a per-piece explode. Returns one row per
    * emitted piece: `(id…, word_pos, piece_pos, piece)` with 1-based
    * positions — row-level output so a hash compare covers every
    * piece in order. Words absent from `segmented` are REFUSED loudly:
    * encode-by-join covers the training corpus's words only.
    */
  def bpeEncode(
      docs: DataFrame,
      idCol: String,
      text: Column,
      segmented: DataFrame): DataFrame = {
    val seg = segmented.select(col("word"), col("pieces"))
    docs
      .select(col(idCol), posexplode(split(text, " ")).as(Seq("__wp", "word")))
      .filter(col("word") =!= "")
      .join(seg.withColumn("__known", lit(true)), Seq("word"), "left")
      .withColumn("pieces",
        when(col("__known").isNull, raise_error(concat(
          lit("bpeEncode: word not in segmentation (encode covers training words only): "),
          col("word"))))
          .otherwise(col("pieces")))
      .select(col(idCol), (col("__wp") + 1).cast("long").as("word_pos"),
        posexplode(col("pieces")).as(Seq("__pp", "piece")))
      .select(col(idCol), col("word_pos"),
        (col("__pp") + 1).cast("long").as("piece_pos"), col("piece"))
  }

  /** TOKENIZER FERTILITY distribution — the quality report every
    * tokenizer ships with: how many subword pieces each word type
    * splits into, as a `(n_pieces → types, occurrences, chars)`
    * histogram over the trained segmentation. Fertility (mean pieces
    * per word occurrence) and compression (chars per piece) fall out
    * of the histogram by division; keeping the row EXACT integer
    * counts keeps it hash-checkable and mergeable. Vocabulary-sized
    * input → one tiny hash agg.
    */
  def fertility(segmented: DataFrame): DataFrame =
    segmented.select(size(col("pieces")).cast("long").as("n_pieces"),
        col("freq").cast("long").as("__f"),
        length(col("word")).cast("long").as("__c"))
      .groupBy("n_pieces")
      .agg(count(lit(1)).as("n_word_types"),
        sum("__f").as("n_word_occurrences"),
        sum(col("__c") * col("__f")).as("n_chars_occurrences"))

  /** DuckDB mirror of [[bpeTrain]]'s merge table: one
    * (pair-count → scalar-subquery argmax → single-replace rewrite)
    * CTE triple per round over a prior CTE `w0(word, freq, sym)`
    * (sym doubled-separator-bounded like [[charSym]]; build it with
    * `chr(31)||chr(31) || regexp_replace(word, '(.)',
    * '\1' || chr(31)||chr(31), 'g')`).
    * Emits `(merge_no, pair_a, pair_b, merged, pair_count)`.
    */
  def bpeSql(merges: Int): String = {
    val rows = (1 to merges).map { i =>
      s"""SELECT $i AS merge_no, m.a AS pair_a, m.b AS pair_b,
         |       m.a || m.b AS merged, m.c AS pair_count
         |FROM b$i WHERE m.a IS NOT NULL""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"${bpeSqlRounds(merges)}\n$rows"
  }

  /** Just the round CTEs `p1,b1,w1 … pM,bM,wM` of [[bpeSql]] — for
    * mirrors that continue past training (encoding joins `wM`). Every
    * round CTE is MATERIALIZED: each `w_i` is referenced by both
    * `p_{i+1}` and `w_{i+1}`, and DuckDB's default CTE inlining would
    * re-derive the whole prefix per reference — exponential in the
    * round count (the oracle ground to a halt at 12 rounds without
    * this; Spark's side gets the same linearity from its periodic
    * localCheckpoint).
    */
  def bpeSqlRounds(merges: Int): String = {
    val sep = "chr(31)"
    (1 to merges).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT s[j] AS a, s[j + 1] AS b, CAST(sum(freq) AS BIGINT) AS c
         |  FROM (SELECT freq, list_filter(string_split(sym, $sep), x -> x <> '') AS s
         |        FROM $prev),
         |       unnest(generate_series(1, len(s) - 1)) AS t(j)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (
         |  SELECT (SELECT {'a': a, 'b': b, 'c': c}
         |          FROM p$i ORDER BY c DESC, a, b LIMIT 1) AS m),
         |w$i AS MATERIALIZED (
         |  SELECT word, freq,
         |    CASE WHEN m.a IS NULL THEN sym
         |         ELSE replace(sym,
         |                $sep || m.a || $sep || $sep || m.b || $sep,
         |                $sep || m.a || m.b || $sep)
         |    END AS sym
         |  FROM $prev, b$i)""".stripMargin
    }.mkString(",\n")
  }
}
