package graft.linkage

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Candidate-pair generation ("blocking"): avoid the O(|A|·|B|) cross
  * product by taking the union of cheap equi-join passes plus optional
  * predicate passes, deduplicated
  * (reference: `extract_blocks`, R/linking.R:14-38).
  *
  * Scale-first design divergences from the reference (SURVEY.md §3):
  *
  *   - The reference `collect()`s every pass to the driver and dedups
  *     in driver memory (R/linking.R:35-37) — a non-starter at 100 TB.
  *     Here the whole thing is ONE lazy plan of DISJOINT passes: pass
  *     `k` keeps only the pairs no earlier pass's condition matches,
  *     so `passes.reduce(unionByName)` is already duplicate-free and
  *     no pair-scale dedup shuffle runs. Same result set as the
  *     reference's union + distinct under the unique-id contract (see
  *     [[Blocking.extractBlocks]]), and Catalyst prunes each pass's
  *     scan down to (blocking keys, earlier passes' keys, id).
  *
  *   - A raw predicate pass is a cross join (R/linking.R:28-29), which
  *     no optimizer can save at scale. `ComputedKeys` lets the caller
  *     express "same first initial"-style predicates as equi-joins on
  *     computed keys (e.g. `substring(col("surname"), 1, 1)`), turning
  *     O(n²) into a shuffled hash join. `Predicate` remains available
  *     for genuinely non-equi conditions; Catalyst will still turn an
  *     equality-only predicate over a cross join into an equi-join, but
  *     relying on that rewrite is fragile — prefer `ComputedKeys`.
  */
sealed trait BlockingPass

/** Equi-join pass on existing columns: left name → right name map
  * (reference: R/linking.R:21-27; `list('surname'='surname', ...)` at
  * scratch.R:23). Unsuffixed names are suffixed automatically.
  */
final case class EquiKeys(keys: Map[String, String]) extends BlockingPass
object EquiKeys {
  /** Same-name convenience: block on `v_left == v_right`. */
  def apply(vars: String*): EquiKeys = EquiKeys(vars.map(v => v -> v).toMap)
}

/** Equi-join pass on computed keys: (key name, left-side expr over the
  * suffixed left table, right-side expr over the suffixed right table).
  * The scale-path rewrite of prefix-style predicate passes
  * (reference: scratch.R:25).
  */
final case class ComputedKeys(keys: Seq[(String, Column, Column)]) extends BlockingPass

/** Arbitrary-predicate pass over the cross product — the reference's
  * `blocking_expressions` (R/linking.R:28-29). Use only for non-equi
  * predicates; O(|A|·|B|) work.
  */
final case class Predicate(condition: Column) extends BlockingPass

/** Typed blocking config (reference: S7 `blocking_rules`,
  * R/s7_classes.R:11-30).
  *
  * KEY-CARDINALITY CONTRACT: per-bucket candidate pairs grow
  * quadratically in bucket size, so a key whose distinct-value count
  * stays FIXED as the data grows makes the pair table grow
  * quadratically with the corpus. Choose keys whose cardinality scales
  * with the data (high-entropy prefixes, digests, computed keys over
  * near-unique columns); residual hot keys are split at runtime by AQE
  * skew-join handling (evidence: docs/SKEW_EVIDENCE_r03.md).
  */
final case class BlockingRules(passes: Seq[BlockingPass]) {
  override def toString: String =
    if (passes.isEmpty)
      "An empty blocking rule. Be careful! This blocking rule will return all pairs!"
    else
      s"Blocking rule with ${passes.length} blocking conditions.\n" +
        passes.map(p => s"  - $p").mkString("\n")
}

object Blocking {

  /** Generate the deduplicated candidate-pair id table
    * (reference: `extract_blocks`, R/linking.R:14-38). Returns a lazy
    * DataFrame of (uniqueIdA_left, uniqueIdB_right) — one plan, no
    * driver materialization.
    *
    * DISJOINT PASSES. Pass `k` keeps only the pairs that no earlier
    * pass's condition matches (`NOT coalesce(cond_j, false)` for every
    * `j < k`, a NULL condition being no match, as in the join), so
    * every (rowA, rowB) combination comes from its FIRST matching
    * pass only, and the passes are concatenated with `unionByName` —
    * no distinct, no pair-scale dedup shuffle. The exclusion is
    * Splink's rule for sequential blocking rules. It yields the
    * reference's union + distinct pair set under the UNIQUE-ID
    * CONTRACT: `uniqueIdA` is unique in `dataA` and `uniqueIdB` in
    * `dataB`, so a row combination and its id pair are one and the
    * same (the single-pass case has always relied on this). The cost
    * is that pass `k`'s join carries the columns earlier conditions
    * read, and evaluates them once per pair it produces.
    *
    * `selfLinkage = true` canonicalizes SELF-linkage pairs
    * (`id_left < id_right`) inside each pass, so no pass ever emits
    * the second orientation of a pair. Only valid when A and B are
    * the same table with comparable ids.
    *
    * SCALE CONTRACT for blocking keys: per-bucket pair count is
    * quadratic in bucket size, so keys whose CARDINALITY IS FIXED as
    * the data grows (a 125-value nation×segment key, a 2-digit
    * suffix) make the pair table grow quadratically with the corpus —
    * that is inherent to the key choice, not the operator. Pick keys
    * whose distinct-value count scales with the data (names, digests,
    * computed prefixes of high-entropy columns). Hot keys that slip
    * through are handled at runtime by AQE skew-join splitting
    * (spark.sql.adaptive.skewJoin, see docs/SKEW_EVIDENCE_r03.md) —
    * EXCEPT when the key cardinality itself is tiny (SURVEY §4's
    * first-initial case: 26 values means 26 join groups no matter how
    * many executors exist; AQE can split a skewed sort-merge
    * partition, but a 1000-node cluster still idles on a 26-way key).
    * For those passes set `hotKeySalts` ≈ the cluster's task
    * parallelism: each equi/computed pass then salts the LEFT side by
    * a hash of its id (uniform, key-independent) and replicates the
    * RIGHT side across all salts, so every hot key's pair production
    * spreads over `hotKeySalts` tasks. Output is identical (verified
    * by spec) — the salt is a conjunct equi-key that every (rowA,
    * rowB) combination satisfies exactly once — at the cost of
    * shuffling the right side `hotKeySalts`×. Leave it 0 for
    * high-cardinality keys where AQE suffices.
    */
  def extractBlocks(
      dataA: DataFrame,
      dataB: DataFrame,
      uniqueIdA: String,
      uniqueIdB: String,
      rules: BlockingRules,
      selfLinkage: Boolean = false,
      hotKeySalts: Int = 0): DataFrame = {
    val a = graft.util.Parallelism.ensure(Suffix.addSuffix(dataA, "_left"))
    val b = Suffix.addSuffix(dataB, "_right")
    val idL = Suffix.addSuffix(uniqueIdA, "_left")
    val idR = Suffix.addSuffix(uniqueIdB, "_right")
    // Same reserved-name discipline as Windows.denseIdsBy: salting
    // adds __salt_l/__salt_r working columns. Checked on the RAW
    // inputs (suffixing would rename a raw __salt_l to __salt_l_left,
    // masking the collision today — but the names are reserved
    // outright so a future refactor of the suffix order cannot turn
    // the silent rename into a silent overwrite or ambiguous join).
    if (hotKeySalts > 1)
      Seq("A" -> dataA, "B" -> dataB).foreach { case (side, df) =>
        Seq("__salt_l", "__salt_r").foreach(n =>
          require(!df.columns.contains(n),
            s"extractBlocks: input $side already has a column named '$n' — " +
              "reserved by hotKeySalts salting; rename it first"))
      }

    // Self-linkage canonicalization applied per pass: the `<` becomes a
    // join-condition conjunct (or a filter on the cross join).
    def canon(pairIds: DataFrame): DataFrame =
      if (selfLinkage) pairIds.filter(col(idL) < col(idR)) else pairIds

    // Salted equi-join for tiny-cardinality hot keys (see scale
    // contract above): left rows carry ONE uniform salt (hash of the
    // left id — independent of the blocking key, so a hot key's rows
    // spread evenly), right rows carry ALL salts; the salt equality
    // conjunct makes each (rowA, rowB) match in exactly one task.
    def saltedEqui(l: DataFrame, r: DataFrame, cond: Column): DataFrame =
      if (hotKeySalts > 1) {
        val sl = l.withColumn("__salt_l", pmod(xxhash64(col(idL)), lit(hotKeySalts)))
        val sr = r.withColumn("__salt_r",
          explode(sequence(lit(0).cast("long"), lit(hotKeySalts - 1).cast("long"))))
        sl.join(sr, cond && col("__salt_l") === col("__salt_r"), "inner")
      } else l.join(r, cond, "inner")

    // A pass's condition over one (rowA, rowB) pair, by the suffixed
    // column names, which are unique across the two sides.
    def condition(pass: BlockingPass): Column = pass match {
      case EquiKeys(keys) => keys.map { case (l, r) =>
        col(Suffix.addSuffix(l, "_left")) === col(Suffix.addSuffix(r, "_right"))
      }.reduce(_ && _)
      case ComputedKeys(keys) => keys.map { case (_, le, re) => le === re }.reduce(_ && _)
      case Predicate(c) => c
    }
    // NULL counts as no match, exactly as the pass's join or filter drops it.
    def matches(pass: BlockingPass): Column = coalesce(condition(pass), lit(false))

    val passes: Seq[DataFrame] = rules.passes.zipWithIndex.map { case (pass, k) =>
      // Drops the pairs an earlier pass produces.
      def fresh(joined: DataFrame): DataFrame =
        rules.passes.take(k).map(p => !matches(p)).reduceOption(_ && _)
          .fold(joined)(joined.filter)
      pass match {
        case EquiKeys(_) =>
          // Null keys never match in an equi-join (NULL = NULL is NULL) —
          // same as the reference's SQL inner join.
          canon(fresh(saltedEqui(a, b, condition(pass))).select(col(idL), col(idR)))

        case ComputedKeys(keys) =>
          // Project the computed keys on each side first so the join is a
          // plain shuffled equi-join on materialized key columns.
          val ak = keys.foldLeft(a) { case (df, (n, le, _)) => df.withColumn(s"__bk_$n", le) }
          val bk = keys.foldLeft(b) { case (df, (n, _, re)) => df.withColumn(s"__bk2_$n", re) }
          val cond = keys.map { case (n, _, _) => ak(s"__bk_$n") === bk(s"__bk2_$n") }.reduce(_ && _)
          canon(fresh(saltedEqui(ak, bk, cond)).select(col(idL), col(idR)))

        case Predicate(_) =>
          canon(fresh(a.crossJoin(b).filter(condition(pass))).select(col(idL), col(idR)))
      }
    }

    // Disjoint passes: union-all already equals the reference's
    // bind_rows + distinct (R/linking.R:36-37).
    passes.reduce(_ unionByName _)
  }

  /** Blocking quality metrics — the two numbers every blocking scheme
    * is judged by (Christen's record-linkage evaluation canon):
    * REDUCTION RATIO `1 − |cand|/|A×B|` (how much of the comparison
    * space the scheme avoids) and PAIRS COMPLETENESS
    * `|cand ∩ truth|/|truth|` (how many true matches survive it).
    * Tuning blocking = trading these against each other; a scheme
    * change that silently drops completeness is how a linkage
    * pipeline rots.
    *
    * `candidates` and `truth` are pair tables on (idL, idR);
    * `totalPairs` is the caller's |A×B| (e.g. nA·nB, or n(n−1)/2 for
    * self-linkage — computed from counts, never materialized). One
    * job: three counting aggregates (candidates, truth, and their
    * keyed inner join) cross-joined as 1-row broadcasts; the ratios
    * are single divisions of exact counts.
    */
  def qualityMetrics(
      candidates: DataFrame, truth: DataFrame,
      idL: String, idR: String, totalPairs: Long): DataFrame = {
    val nCand = candidates.agg(count(lit(1)).as("n_cand"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val nHit = candidates.select(col(idL), col(idR))
      .join(truth.select(col(idL), col(idR)), Seq(idL, idR))
      .agg(count(lit(1)).as("n_hits"))
    nCand.crossJoin(nTruth).crossJoin(nHit)
      .withColumn("pairs_total", lit(totalPairs))
      .withColumn("reduction_ratio",
        lit(1.0) - col("n_cand").cast("double") / col("pairs_total"))
      .withColumn("pairs_completeness",
        col("n_hits").cast("double") / col("n_truth"))
  }

  /** Pair-generation work of one equi pass, measured from the key
    * counts: `(Σ_k cntL·cntR, max_k cntL·cntR)` over the keys both
    * sides share, or None when they share none.
    *
    * One keyed aggregate over the tagged union of both sides' keys
    * (per key: left rows, right rows) stays distributed; each task
    * then reduces its keys' products to a partial sum and max
    * ([[org.apache.spark.sql.graftbridge.Bridge.foldPartitions]]) and
    * the driver finishes them — two jobs, without a key join or a
    * global aggregate's single-task merge job. Products and sums are
    * exact longs (an overflow throws). NULL keys are dropped, as an
    * equi-join drops them; keys on one side only contribute a zero
    * product. [[graft.ops.Profiling.joinSizeEstimate]] is the same
    * forecast as a reporting table (shared-key count, top key).
    */
  private def pairWork(left: DataFrame, leftKey: Column,
      right: DataFrame, rightKey: Column): Option[(Long, Long)] = {
    val keys = left.select(leftKey.as("__k"), lit(1L).as("__l"), lit(0L).as("__r"))
      .union(right.select(rightKey.as("__k"), lit(0L).as("__l"), lit(1L).as("__r")))
    val perKey = keys.filter(col("__k").isNotNull)
      .groupBy(col("__k")).agg(sum(col("__l")).as("__ln"), sum(col("__r")).as("__rn"))
      .select(col("__ln"), col("__rn"))
    val (total, top) = Bridge.foldPartitions(perKey) { rows =>
      var (t, m) = (0L, 0L)
      rows.foreach { r =>
        val work = Math.multiplyExact(r.getLong(0), r.getLong(1))
        t = Math.addExact(t, work)
        m = math.max(m, work)
      }
      (t, m)
    }.foldLeft((0L, 0L)) { case ((t, m), (pt, pm)) => (Math.addExact(t, pt), math.max(m, pm)) }
    if (total <= 0) None else Some((total, top))
  }

  /** UPPER-BOUND estimate of the blocked candidate-pair count: the sum
    * over passes of `Σ_k cntA(k)·cntB(k)` (equi/computed passes via
    * [[pairWork]]; `nA·nB` for a raw predicate pass), halved for
    * self-linkage (the `id_left < id_right` canon keeps one
    * orientation). Pass overlap is double-counted — fine for its one
    * purpose, sizing pair-scale exchanges
    * ([[graft.util.Parallelism.pairPartitions]] via
    * [[Pairs.computePairsDataset]]; a high estimate only means smaller
    * tasks).
    *
    * Cost: one dimension-scale pre-flight per pass ([[pairWork]]'s two
    * jobs), run ONLY when the combined input passes
    * [[graft.util.Parallelism.scanBytesAtLeast]] at 2 MiB — the local
    * bench inputs (sf0.1 customer 315 KB, part
    * 180 KB) sit 6×+ under the gate, so driver-comparable plans carry
    * zero extra jobs and stay byte-identical, while the 2B-pair probe
    * fixture (7.9 MB) and anything bigger pre-flights. Returns None
    * when gated off.
    */
  def estimatePairs(
      dataA: DataFrame,
      dataB: DataFrame,
      rules: BlockingRules,
      selfLinkage: Boolean = false): Option[Long] = {
    val gateBytes = 2L * 1024 * 1024
    if (!graft.util.Parallelism.scanBytesAtLeast(dataA, gateBytes) &&
        !graft.util.Parallelism.scanBytesAtLeast(dataB, gateBytes)) return None
    val a = Suffix.addSuffix(dataA, "_left")
    val b = Suffix.addSuffix(dataB, "_right")
    // pairWork unions the two keys by position, so both structs get the
    // same positional field names; a key with a NULL part is NULL, as
    // the pass's equi-join never matches it.
    def key(parts: Seq[Column]): Column =
      when(parts.map(_.isNotNull).reduce(_ && _),
        struct(parts.zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*))
    def work(lk: Seq[Column], rk: Seq[Column]): Long =
      pairWork(a, key(lk), b, key(rk)).fold(0L)(_._1)
    val total = rules.passes.map {
      case EquiKeys(keys) =>
        val sorted = keys.toSeq.sortBy(_._1)
        work(sorted.map { case (l, _) => a(Suffix.addSuffix(l, "_left")) },
          sorted.map { case (_, r) => b(Suffix.addSuffix(r, "_right")) })
      case ComputedKeys(keys) =>
        work(keys.map(_._2), keys.map(_._3))
      case Predicate(_) =>
        dataA.count() * dataB.count() // cross-join pass: every pair forms
    }.sum
    Some(if (selfLinkage) total / 2 else total)
  }

  /** MEASURED salt-count recommendation for a blocking pass — the
    * bridge from the per-key pair-work forecast ([[pairWork]]) to
    * [[extractBlocks]]' `hotKeySalts` knob, so the salt count is a
    * pre-flight computation instead of a guess.
    *
    * Model: per-key pair GENERATION work is `cntL·cntR` and a key's
    * group runs in ONE task unsalted (AQE splits partitions by size,
    * not groups — SURVEY §4). The straggler bound is therefore
    * `max_k cntL·cntR`, against an ideal per-task share of
    * `Σ_k cntL·cntR / targetParallelism`. Salting by `s` divides
    * every group `s` ways, so the smallest sufficient salt count is
    *
    * {{{ s = ceil(targetParallelism · max_k work / Σ_k work) }}}
    *
    * clamped to `[1, targetParallelism]` (salting past the task count
    * buys nothing and costs `s`× right-side replication). Returns 0
    * when s ≤ 1 — the key spreads fine, AQE suffices, skip the salt
    * cost entirely. This covers BOTH failure shapes with one formula:
    * a dominant hot key (max/Σ → 1 ⇒ s → targetParallelism) and a
    * tiny-cardinality uniform key (k uniform groups ⇒ s ≈ P/k, giving
    * k·s ≈ P work units).
    *
    * Cost: [[pairWork]]'s two jobs (one keyed count aggregate over
    * both sides' keys, then a per-task reduce finished on the driver),
    * far cheaper than the pair generation it sizes.
    * Pass the SAME key expressions the blocking pass will use (left
    * and right sides). Identity of the pair set under any salt count
    * is spec-proved (LinkageSpec); this helper only picks the
    * parallelism.
    */
  def recommendSalts(left: DataFrame, leftKey: Column,
      right: DataFrame, rightKey: Column, targetParallelism: Int): Int = {
    require(targetParallelism > 0,
      s"targetParallelism must be positive, got $targetParallelism")
    pairWork(left, leftKey, right, rightKey).fold(0) { case (total, top) =>
      val s = math.ceil(targetParallelism.toDouble * top / total).toInt
      if (s <= 1) 0 else math.min(s, targetParallelism)
    }
  }

  /** SORTED-NEIGHBORHOOD blocking (Hernández & Stolfo 1995) — the
    * classic alternative to equi-key blocking for fuzzy keys: sort
    * the table by a sorting key and pair every record with its next
    * `w` neighbors in that order. Tolerates key typos that equi
    * blocking misses (adjacent-but-unequal keys still pair) at a
    * LINEAR pair budget `w·n` — no bucket is ever quadratic, the
    * dual failure mode of [[extractBlocks]]' key-cardinality
    * contract.
    *
    * Returns `(id_left, id_right, rank_gap)` with `rank_gap ∈ [1, w]`.
    * The sort order is made TOTAL by (sortKey, id) — ties are ordered
    * deterministically, so the pair set is a pure function of the data
    * (engine/layout/rerun-stable, mirrorable).
    *
    * Scale shape: the global order comes from
    * [[graft.ops.Windows.denseIdsBy]] (range repartition + local
    * numbering + broadcast offsets — NO single-partition window), then
    * the neighbor pairing is `w` rank-keyed self-joins expressed as
    * one explode of rank+1..rank+w (the skipgram shift trick) joined
    * back on the rank — keyed shuffles only.
    */
  def sortedNeighborhood(df: DataFrame, idCol: String, sortKey: Column,
      w: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val ranked = graft.ops.Windows.denseIdsBy(
        df.select(col(idCol).as("__id"), sortKey.as("__k")),
        Seq(col("__k").asc, col("__id").asc), "__rank")
      .localCheckpoint(true) // probe side and build side share one numbering
    val probes = ranked.select(col("__id").as("id_left"), col("__rank"),
        explode(sequence(col("__rank") + 1, col("__rank") + w)).as("__nr"))
    probes.join(ranked.select(col("__id").as("id_right"),
        col("__rank").as("__nr")), Seq("__nr"))
      .select(col("id_left"), col("id_right"),
        (col("__nr") - col("__rank")).as("rank_gap"))
  }
}
