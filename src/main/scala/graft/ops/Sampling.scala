package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for 100 TB pipelines. `df.sample()` draws
  * from per-partition RNG state: the selected set changes with
  * partitioning, retries, and Spark version — useless for reproducible
  * dev slices, A/B corpus experiments, or an oracle. Hash sampling
  * keys the decision on the ROW (md5 of a stable key), so the same row
  * is in or out everywhere, forever, regardless of layout — and the
  * predicate is a map-only codegen'd filter that composes with
  * pushdown (partition pruning still applies above it).
  */
object Sampling {

  /** Keep rows whose `md5(key) mod 1000 < permille` — a deterministic
    * ~permille/1000 sample. The key is cast to string first so integer
    * keys hash identically across engines; md5's first 15 hex digits
    * (60 bits) always fit a signed long (same parity trick as the
    * minhash kernels, Dedup.shingleBaseHash).
    */
  def hashSample(df: DataFrame, key: Column, permille: Int): DataFrame = {
    require(permille >= 0 && permille <= 1000, s"permille must be in [0,1000], got $permille")
    df.filter(hashBucket(key) < permille)
  }

  /** The row's stable bucket in [0, 1000). */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long") % 1000

  /** DuckDB mirror of [[hashBucket]]. */
  def hashBucketSql(keyExpr: String): String =
    s"CAST(('0x' || substr(md5(CAST($keyExpr AS VARCHAR)), 1, 15)) AS BIGINT) % 1000"

  /** The row's stable bucket in [0, 10⁶) — ppm resolution, for
    * thresholds finer than [[hashBucket]]'s permille grid. */
  def hashBucketPpm(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long") % 1000000L

  /** Class-balanced downsampling — thin every class to (about) the
    * size of the RAREST class, the standard rebalance before training
    * a classifier on skewed labels. Deliberately NOT an exact
    * per-class row_number ≤ m cut: that needs one ordered window per
    * class, and a 100 TB class is a single-reducer sort. Instead each
    * class keeps rows whose stable [[hashBucketPpm]] falls under
    * `keep_ppm = m·10⁶ div n_class` — map-only after one
    * class-cardinality-sized broadcast, deterministic forever (a row
    * never flips in or out between runs), balanced to binomial noise
    * (exactly the [[hashSample]] contract, per class).
    *
    * Output: the kept rows with `class` and their class's `keep_ppm`
    * attached. Plan shape: one class-count hash agg + 1-row min fold,
    * broadcast back; the keep filter is codegen map-side.
    */
  def classBalance(df: DataFrame, classCol: Column, key: Column): DataFrame = {
    val tagged = df.withColumn("class", classCol.cast("string"))
      .withColumn("__bk", hashBucketPpm(key))
    val counts = tagged.groupBy("class").agg(count(lit(1)).as("__nc"))
    val minN = counts.agg(min("__nc").as("__m"))
    val thresholds = counts.crossJoin(broadcast(minN))
      .select(col("class"), col("__nc").as("n_class"),
        expr("__m * 1000000L div __nc").as("keep_ppm"))
    tagged.join(broadcast(thresholds), Seq("class"))
      .filter(col("__bk") < col("keep_ppm"))
      .drop("__bk")
  }

  /** Deterministic train/valid/test split assignment: the row's
    * stable [[hashBucket]] lands in consecutive permille ranges, one
    * per split — the same row gets the same split everywhere, forever,
    * regardless of layout or engine (the property a training pipeline
    * needs so no example ever crosses from test into train between
    * runs). `splits` are (name, permille) pairs; they must sum to
    * 1000 so every row is assigned. Map-only codegen `when` chain.
    */
  def assignSplit(df: DataFrame, key: Column, splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0) && splits.map(_._2).sum == 1000,
      s"split permilles must be non-negative and sum to 1000, got $splits")
    val bucket = hashBucket(key)
    val cuts = splits.scanLeft(0) { case (acc, (_, p)) => acc + p }
    val expr = splits.zip(cuts.sliding(2).toSeq).foldLeft(lit(null).cast("string")) {
      case (acc, ((name, _), Seq(lo, hi))) =>
        when(bucket >= lo && bucket < hi, name).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Weighted repetition for training-data mixing: each row is
    * emitted `weightCol` times (an INTEGER epoch count — the standard
    * "rare domain ×3, common domain ×1" mix), tagged with a 1-based
    * `rep` index; weight ≤ 0 drops the row. A map-only
    * `explode(sequence)` — no shuffle, no driver involvement; output
    * size is Σ weights, visible to AQE for downstream planning.
    * Weights are EPOCH COUNTS (single digits in practice): each row
    * materializes a weight-length array, so a wild weight is an OOM —
    * bounded here at 10000 per row as a loud guard.
    */
  def repeatByWeight(df: DataFrame, weightCol: Column): DataFrame = {
    val w = weightCol.cast("long")
    df.filter(w >= 1)
      .withColumn("rep",
        explode(sequence(lit(1L),
          when(w <= 10000L, w).otherwise(raise_error(
            concat(lit("repeatByWeight: weight exceeds the 10000-epoch guard: "), w))))))
  }

  /** Stratified deterministic sample: a different permille per stratum
    * value (e.g. downsample English, keep all of a rare language —
    * the standard corpus-mixing move). Same stable row-hash decision
    * as [[hashSample]]; the per-stratum rate compiles into one folded
    * `when` chain, so the filter stays a map-only codegen predicate.
    * Strata absent from the map fall back to `defaultPermille`.
    */
  def stratifiedHashSample(
      df: DataFrame, key: Column, strata: Column,
      permilleByStratum: Map[String, Int], defaultPermille: Int = 0): DataFrame = {
    (permilleByStratum.values.toSeq :+ defaultPermille).foreach { p =>
      require(p >= 0 && p <= 1000, s"permille must be in [0,1000], got $p")
    }
    // Sorted fold for a deterministic expression tree.
    val rate = permilleByStratum.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPermille)) { case (acc, (s, p)) =>
        when(strata === s, lit(p)).otherwise(acc)
      }
    df.filter(hashBucket(key) < rate)
  }

  /** Deterministic weighted sample, per stratum: the `k` rows with the
    * smallest integer priority `u div w` in EACH group — priority
    * sampling (Duffield, Lund & Thorup, JACM 2007: take the k largest
    * `w/u`, here inverted to a floor-div so the arithmetic is integral
    * and engine-exact): a row with twice the weight is ~twice as
    * likely to make the cut, yet the selected set is a pure function
    * of the data — same rows on every engine, layout, and rerun, which
    * `df.sample()` and any float-pow A-ES implementation cannot
    * promise. Weights must be positive integers (scale upstream); ties
    * break on `key` asc. The training-mix shape: "500 docs per domain,
    * quality-weighted".
    *
    * Plan shape: map-only priority projection + a keyed window
    * (partitions on the stratum, never a global sort).
    */
  def weightedSampleByGroup(df: DataFrame, strata: Seq[String], key: Column,
      weight: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(strata.nonEmpty, "weightedSampleByGroup needs at least one stratum column")
    import org.apache.spark.sql.expressions.Window
    withPriority(df, key, weight)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(strata.map(col): _*)
          .orderBy(col("priority").asc, col("__wskey").asc)))
      .filter(col("__rn") <= k)
      .drop("__rn", "__wskey", "__w")
  }

  // Priority projection: `u div w` on named columns so the
  // integral `div` sees real longs (conv returns string — cast first).
  private def withPriority(df: DataFrame, key: Column, weight: Column): DataFrame = {
    val w = weight.cast("long")
    df.withColumn("__wskey", key)
      .withColumn("__w", when(w >= 1L, w)
        .otherwise(raise_error(concat(lit("weightedSampleByGroup: weight must be >= 1, got "), w))))
      .withColumn("priority", expr(
        "cast(conv(substring(md5(cast(__wskey as string)), 1, 15), 16, 10) as bigint) div __w"))
  }

  /** DuckDB mirror of the integer priority: `(u div w)` with the same
    * 60-bit md5 uniform as [[hashBucketSql]].
    */
  def prioritySql(keyExpr: String, weightExpr: String): String =
    s"CAST(('0x' || substr(md5(CAST($keyExpr AS VARCHAR)), 1, 15)) AS BIGINT) // ($weightExpr)"

  /** Largest-remainder (Hamilton) apportionment of a global token
    * budget across sources — how a training mix is actually planned:
    * each source's ideal share is `budget·T_s/ΣT`; every source gets
    * the floor, and the leftover units go to the largest fractional
    * remainders (ties to the lexicographically smaller source), so
    * `Σ quota = budget` EXACTLY — no float shares that drift off the
    * budget when rounded. A quota above `tokens_avail` means
    * repetition epochs (feed `quota/T_s` into [[repeatByWeight]]).
    *
    * All arithmetic is integral: `budget·T_s` in decimal(38,0) (a
    * 100 TB corpus at ~10¹⁴ tokens times a 10¹²-token budget overflows
    * BIGINT but not 38 digits), floor-div/mod via the exact
    * subtract-pmod pattern ([[graft.ops.Joins]] bandJoin). Plan shape:
    * one hash agg to per-source totals, two 1-row broadcasts (ΣT and
    * the leftover), one row_number over the SOURCE table — partition-
    * less but source-cardinality-sized (tens to thousands), the
    * documented driver-sized-window shape, never the corpus.
    */
  def apportionTokens(
      df: DataFrame, sourceCol: String, tokens: Column,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    import org.apache.spark.sql.expressions.Window
    val per = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(tokens).as("tokens_avail"))
    val tot = per.agg(sum("tokens_avail").cast("decimal(38,0)").as("__tot"))
    val scaled = per.crossJoin(broadcast(tot))
      .withColumn("__num", col("tokens_avail").cast("decimal(38,0)") * lit(budget))
      .withColumn("__rem", pmod(col("__num"), col("__tot")))
      .withColumn("__base",
        ((col("__num") - col("__rem")) / col("__tot")).cast("long"))
    val left = scaled.agg((lit(budget) - sum("__base")).as("__left"))
    scaled.crossJoin(broadcast(left))
      .withColumn("__rk",
        row_number().over(Windows.pinnedOrderBy(desc("__rem"), asc("source"))))
      .withColumn("quota_tokens",
        col("__base") + when(col("__rk") <= col("__left"), 1L).otherwise(0L))
      .select("source", "tokens_avail", "quota_tokens")
  }

  /** Quality-ranked corpus selection under a PER-GROUP token budget —
    * the "take the best 40% of each source's tokens" move a training
    * mix makes after quality scoring: rank each group's docs by
    * `(quality DESC, id ASC)`, prefix-sum their token counts in that
    * order, and keep a doc while the running total (including itself)
    * stays within `tokens_avail · budgetNum / budgetDen` (exact
    * integer floor). Returns the input row +
    * `(cum_tokens, budget_tokens, keep)` — deterministic across
    * engines/layouts because the order key is total and all
    * arithmetic is integer.
    *
    * Shape: one per-group hash agg (totals) broadcast back + ONE
    * keyed window (partitioned prefix sum) — no global sort, no
    * driver state; at 100 TB the window shuffles each group once,
    * which is the minimum any budgeted selection needs.
    */
  def tokenBudget(df: DataFrame, groupCol: String, id: Column,
      tokens: Column, quality: Column, budgetNum: Int, budgetDen: Int): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0, s"bad budget $budgetNum/$budgetDen")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol), id.as("__id"),
      tokens.cast("long").as("__tok"), quality.cast("long").as("__q"))
    val tot = base.groupBy(groupCol)
      .agg(sum(col("__tok")).as("tokens_avail"))
      .withColumn("budget_tokens",
        expr(s"(tokens_avail * $budgetNum) div $budgetDen"))
    val w = Window.partitionBy(groupCol)
      .orderBy(col("__q").desc, col("__id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(tot, Seq(groupCol))
      .withColumn("cum_tokens", sum(col("__tok")).over(w))
      .withColumn("keep", col("cum_tokens") <= col("budget_tokens"))
  }

  /** Deterministic weighted interleave order — the data-loader step
    * after [[assignSplit]]/[[repeatByWeight]] decide WHAT goes into a
    * training mix: in what ORDER the sources emit so the stream is
    * well-mixed (no "all of source A, then all of B" — a curriculum
    * accident that destabilizes training). Stride scheduling: the
    * r-th row of source `s` (1-based, in stable-hash order) gets
    * {{{ pos = ((2·r − 1) · scale) div (2·w_s) }}}
    * so a source of weight `w` emits every `scale/w` positions,
    * staggered to the interval midpoint (the smooth start WFQ uses —
    * weight-1 and weight-2 sources don't all collide at pos 0).
    * Sorting by `(pos, source, rank_in_source)` yields the mix order;
    * the assignment is a pure function of (key, source, weight), so
    * any engine, layout, or rerun produces the identical schedule.
    * Returns the input row + `rank_in_source` + `pos`.
    *
    * `weightCol` must be a positive integral per-row weight, constant
    * within a source (denormalized, the [[repeatByWeight]] shape);
    * `key` must be UNIQUE within a source (rows sharing a key value
    * would tie in the md5 order and their per-ROW rank assignment —
    * though not the emitted (source, pos) multiset — becomes
    * arbitrary). Bound: `2·r·scale` must stay under 2^63 — at the
    * default `scale` = 1e6 that is ~4.6e12 rows per source.
    *
    * Shape: ONE keyed window per source (row_number over the stable
    * hash) + a map-only position formula — no global sort, no driver
    * action; the consumer's shuffle-on-read is the only global order.
    */
  def interleaveOrder(df: DataFrame, sourceCol: String, key: Column,
      weightCol: Column, scale: Long = 1000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(sourceCol)
      .orderBy(md5(key.cast("string")))
    df.withColumn("__w", weightCol.cast("long"))
      .withColumn("rank_in_source", row_number().over(w).cast("long"))
      .withColumn("pos",
        expr(s"((2L * rank_in_source - 1L) * ${scale}L) div (2L * __w)"))
      .drop("__w")
  }

  /** DuckDB mirror of [[interleaveOrder]]'s position formula over a
    * CTE providing `rank_in_source` (same md5 order) and weight `w`.
    */
  def interleavePosSql(scale: Long): String =
    s"((2 * rank_in_source - 1) * $scale) // (2 * w)"

  /** Deterministic per-epoch training order: every epoch gets a
    * fresh, reproducible GLOBAL permutation by sorting on
    * `md5(epoch ⊕ key)` — the reshuffle-each-epoch a trainer needs
    * (data order is a training hyperparameter; repeating one order
    * every epoch measurably hurts), with no engine RNG anywhere, so
    * the schedule is layout/partitioning/engine independent and
    * resumable (the [[hashBucket]] discipline). Returns the input
    * × `epochs` with `(epoch, pos)`: `pos` is the row's 1-based
    * position in that epoch's permutation. Ties in the md5 break by
    * the key itself — a total order, so every position is
    * hash-checkable.
    *
    * Shape: a bounded epoch explode, then ONE
    * [[graft.ops.Windows.denseIdsBy]] global numbering ordered by
    * (epoch, hash, key) — a range exchange + partition-local
    * row_number, never a single-partition window; per-epoch position
    * is the global id minus the epoch's base (one driver-side
    * count). Epoch count is a literal (a training run's epochs, not
    * data-dependent).
    */
  def epochShuffle(df: DataFrame, key: Column, epochs: Int): DataFrame = {
    require(epochs >= 1 && epochs <= 10000, s"epochs must be in [1,10000], got $epochs")
    val n = df.count()
    val ex = df
      .withColumn("epoch", explode(sequence(lit(1), lit(epochs))))
      .withColumn("__h", md5(concat_ws("\u0001",
        col("epoch").cast("string"), key.cast("string"))))
      .withColumn("__k", key.cast("string"))
    graft.ops.Windows.denseIdsBy(ex,
        Seq(col("epoch").asc, col("__h").asc, col("__k").asc), "__gid")
      .withColumn("pos", col("__gid") - (col("epoch") - 1).cast("long") * n)
      .drop("__h", "__k", "__gid")
  }

  /** Rendezvous (highest-random-weight) shard assignment — Thaler &
    * Ravishankar 1996, the consistent-placement primitive: each key
    * goes to the shard with the highest `md5(key ":" shard)` weight.
    * Unlike `hash(key) mod n`, resizing n → n+1 moves only ~1/(n+1)
    * of the keys (a key moves ONLY if the new shard wins its
    * rendezvous — every surviving shard's weight is unchanged), which
    * is what makes incremental re-sharding of a 100 TB corpus an
    * incremental copy instead of a full reshuffle. Deterministic,
    * layout/engine-stable (the [[hashBucket]] md5 trick per (key,
    * shard)), map-only: the candidate list is a literal `transform`
    * over `sequence(0, n−1)`, the argmax one `array_max` over
    * (weight, shard) structs — no join, no shuffle, codegen-friendly.
    * Cost is O(n) per row; rendezvous is the right tool at shard
    * counts (10s–1000s), not per-row buckets (use [[hashBucket]]).
    */
  def rendezvousShard(key: Column, nShards: Int): Column = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    array_max(transform(sequence(lit(0), lit(nShards - 1)), s =>
      struct(
        conv(substring(md5(concat(key.cast("string"), lit(":"), s.cast("string"))), 1, 15),
          16, 10).cast("long").as("w"),
        s.cast("long").as("s")))).getField("s")
  }

  /** DuckDB mirror of [[apportionTokens]] over a CTE `tok(source,
    * tokens)`: HUGEINT carries the product exactly; `//`/`%` are the
    * same floor-div/mod on non-negative operands.
    */
  def apportionTokensSql(budget: Long): String =
    s"""per AS (SELECT source, CAST(sum(tokens) AS BIGINT) AS tokens_avail
       |        FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(sum(tokens_avail) AS HUGEINT) AS t FROM per),
       |sc AS (
       |  SELECT source, tokens_avail,
       |    CAST((CAST(tokens_avail AS HUGEINT) * $budget) // tot.t AS BIGINT) AS base,
       |    CAST((CAST(tokens_avail AS HUGEINT) * $budget) % tot.t AS BIGINT) AS rem
       |  FROM per, tot),
       |lf AS (SELECT $budget - sum(base) AS leftover FROM sc),
       |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk FROM sc)
       |SELECT source, tokens_avail,
       |  CAST(base + CASE WHEN rk <= lf.leftover THEN 1 ELSE 0 END AS BIGINT)
       |    AS quota_tokens
       |FROM rk, lf""".stripMargin

  /** Poisson(1) CDF in floor-ppm, k = 0..8 — the resampling-weight
    * table for [[poissonBootstrap]]. One shared Scala constant feeds
    * BOTH engines (the [[graft.ops.Similarity.ndcgGainsSql]] idiom),
    * so the float provenance of e⁻¹ is irrelevant to parity. */
  val PoissonCdfPpm: Seq[Long] = {
    // k! grows fast; 0..8 covers all but ~2e-6 of the mass
    (0 to 8).map(k => (1L to k.toLong).product)
      .scanLeft(0.0) { (acc, fact) => acc + math.exp(-1.0) / fact }
      .drop(1)
      .map(c => math.floor(c * 1e6).toLong)
  }

  /** [[PoissonCdfPpm]] as a DuckDB list literal. */
  def poissonCdfPpmSql: String = PoissonCdfPpm.mkString("[", ", ", "]")

  /** Poisson bootstrap (the distributed bootstrap — Chamandy et al.
    * 2012): classical resampling draws n rows WITH replacement, which
    * is a global operation no 1000-executor job can afford; the
    * Poisson approximation gives every row an INDEPENDENT
    * Poisson(1) replication weight per replicate, turning the whole
    * bootstrap into one map-only pass. Here the weight is
    * deterministic — an md5 uniform per (replicate, row key) cut
    * against the shared [[PoissonCdfPpm]] table (weight = #CDF
    * entries ≤ u) — so both engines resample the SAME corpus and the
    * replicate means are hash-exact: `mean_milli = ⌊Σwᵢvᵢ·1000 /
    * Σwᵢ⌋` in decimal(38,0). Row `replicate = -1` is the unresampled
    * point estimate; the spread of the others is the CI.
    *
    * Plan shape: ONE scan exploded `replicates`× (bounded, ~16-64) →
    * a replicate-keyed hash agg; map-side partials keep the shuffle
    * at `replicates` rows per task. Nothing is ever globally
    * resampled, sorted, or collected.
    */
  def poissonBootstrap(df: DataFrame, key: Column, value: Column,
      replicates: Int): DataFrame = {
    require(replicates >= 1 && replicates <= 256,
      s"replicates must be in [1, 256], got $replicates")
    val dec = "decimal(38,0)"
    val cdfLit = typedLit(PoissonCdfPpm)
    val base = df.select(key.cast("string").as("__k"),
      value.cast("long").as("__v"))
    val u = conv(substring(md5(concat(lit("boot:"),
      col("replicate").cast("string"), lit(":"), col("__k"))),
      1, 15), 16, 10).cast("long") % 1000000L
    val reps = base
      .select(col("__k"), col("__v"),
        explode(sequence(lit(0), lit(replicates - 1))).as("replicate"))
      .withColumn("__w", size(filter(cdfLit, c => c <= u)).cast("long"))
      .groupBy("replicate")
      .agg(sum("__w").as("n_eff"),
        sum(col("__w") * col("__v")).as("__ws"))
    val point = base
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_eff"),
        coalesce(sum("__v"), lit(0L)).as("__ws"))
      .select(lit(-1).as("replicate"), col("n_eff"), col("__ws"))
    reps.select(col("replicate"), col("n_eff"), col("__ws"))
      .unionByName(point)
      .select(col("replicate").cast("int").as("replicate"), col("n_eff"), {
        val num = col("__ws").cast(dec) * 1000
        val den = col("n_eff").cast(dec)
        when(den === 0, lit(null).cast("long"))
          .otherwise(((num - num % den) / den).cast("long")).as("mean_milli")
      })
  }
}
