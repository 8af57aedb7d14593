package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative link-analysis over edge lists — the second graph
  * workload (after [[Clusters]]' connected components) a corpus
  * pipeline needs: PageRank-style authority scores for e.g. citation /
  * hyperlink graphs feeding quality-weighted sampling.
  *
  * Same execution discipline as [[Clusters]]: the driver loops over
  * ROUNDS (fixed, small), never over edges; every round is one hash
  * join edges⋈ranks, one groupBy-sum (both partition on the node id,
  * so the exchange is reused), and a broadcast 1-row dangling-mass
  * aggregate folded in via cross join. No separate driver action per
  * round: the out-degree is joined ONCE before the loop and carried
  * inside the rank table, so the dangling sum is a filter+agg over
  * the rank table, not a second evaluation of the join.
  *
  * Rounds checkpoint periodically (`checkpointEvery`); the right
  * default depends on how many times the loop state is REFERENCED
  * per round. PageRank's rank table is consumed once per round (the
  * `round()` helper's three reads collapse into one reused exchange),
  * so lazy lineage stays linear and every-8 wins: a `localCheckpoint`
  * materialization is the EXPENSIVE part of a round (the .rdd
  * conversion path bypasses AQE: measured at sf0.1/5 rounds, fully
  * lazy ≈ 2.1 s vs 3.8 s with per-round checkpoints), while a
  * fully-lazy 50-round lineage blows up Catalyst planning. But loops
  * whose state feeds TWO differently-keyed operators per round (BFS /
  * shortest paths / k-core / label propagation) double their lazy
  * plan every round — exchange reuse can't merge subtrees partitioned
  * on different keys — and default to `checkpointEvery = 4` (tower
  * depth ≤ 2^4 between cuts; measured best-of-sweep on the sf0.1
  * fixtures: 8-round k-core 12.2 s lazy → 2.5-3 s, while 4-round
  * label propagation keeps its fully-lazy 1 s instead of 6 s with
  * per-round cuts). No loop checkpoints its FINAL round — the result
  * is consumed immediately, so a last-round materialization (which
  * the .rdd path runs WITHOUT AQE) is pure waste: measured 57 s vs
  * 2.5 s on 8-round k-core checkpointing at round 8 vs not.
  * `checkpointEvery <= 0` never checkpoints (plan inspection, small
  * iteration counts).
  *
  * Every loop accepts an optional [[Convergence]]: piggybacked on the
  * periodic checkpoint materializations, it counts changed state rows
  * per span, stops early at a fixpoint, and warns LOUDLY when the
  * fixed round count exhausts unconverged — the guard rail for sizing
  * `rounds` on a small fixture and running 100× deeper graphs.
  */
object Graphs {

  /** Convergence telemetry for the fixed-round iterative loops
    * (round-6 verdict task): every loop here runs a FIXED round count
    * with no per-round driver action — correct and cheap, but at 100×
    * scale graph diameter grows, and a fixed unroll sized on a small
    * fixture can silently under-iterate (k-core peeling that
    * cascades to fixpoint by round 6 at sf0.1 will under-peel a
    * deeper graph and say nothing). Telemetry piggybacks on the
    * periodic `localCheckpoint` — ALREADY a materialization — reading
    * ONE tiny keyed-diff count per checkpoint span (never per round):
    * the number of state rows that differ from the previous
    * checkpoint. Zero changes across a span means the deterministic
    * synchronous update hit a fixpoint (or an exact cycle — either
    * way, further rounds reproduce it), so stopping early is sound;
    * when rounds exhaust with state still moving, a LOUD
    * `NOT CONVERGED` warning fires through `log`. With telemetry on,
    * the final round is also materialized (the closing diff would
    * otherwise force the lazy tail to compute twice). Disabled
    * (`None`, the default): not one extra job, not one extra
    * checkpoint — the ClustersSpec per-round callsite assertion
    * stays exact.
    */
  final case class Convergence(
      earlyStop: Boolean = true,
      log: String => Unit = m => System.err.println(m))

  /** Exact count of state rows that differ between two loop states
    * keyed by `key`: appeared, disappeared, or changed in any of
    * `stateCols` (null-safe). One keyed join + count over two
    * already-materialized states — the whole telemetry cost.
    */
  private def changedRows(prev: DataFrame, cur: DataFrame,
      key: String, stateCols: Seq[String]): Long = {
    val p = prev.select(col(key) +: stateCols.map(c => col(c).as(s"__p_$c")): _*)
    val c = cur.select(col(key) +: stateCols.map(col): _*)
    p.join(c, Seq(key), "full_outer")
      .filter(!stateCols.map(s => col(s) <=> col(s"__p_$s")).reduce(_ && _))
      .count()
  }

  /** Shared driver for the fixed-round loops: periodic checkpointing
    * (never the final round unless telemetry needs it) + optional
    * convergence telemetry. `step(state, i)` builds round `i`'s state
    * from round `i-1`'s; `stateCols` are the per-`key` columns whose
    * stability defines convergence.
    */
  private def runRounds(
      rounds: Int, checkpointEvery: Int, conv: Option[Convergence],
      opName: String, key: String, stateCols: Seq[String],
      init: DataFrame)(step: (DataFrame, Int) => DataFrame): DataFrame = {
    var cur = init
    var lastCk: Option[(Int, DataFrame)] = None
    var stopped = false
    var i = 1
    while (i <= rounds && !stopped) {
      val next = step(cur, i)
      val ckPeriodic = checkpointEvery > 0 && i % checkpointEvery == 0 && i < rounds
      val ck = ckPeriodic || (conv.isDefined && i == rounds)
      cur = if (ck) next.localCheckpoint(true) else next
      if (ck) conv.foreach { t =>
        val (j, prev) = lastCk.getOrElse((0, init))
        lastCk = Some((i, cur))
        val changed = changedRows(prev, cur, key, stateCols)
        t.log(s"[graft] $opName round $i/$rounds: $changed state rows changed since round $j")
        if (changed == 0L && i < rounds) {
          t.log(s"[graft] $opName converged by round $i/$rounds" +
            (if (t.earlyStop) " — stopping early" else ""))
          if (t.earlyStop) stopped = true
        }
        if (changed > 0L && i == rounds)
          t.log(s"[graft] WARNING: $opName NOT CONVERGED after $rounds rounds — " +
            s"$changed state rows still changed since round $j; the fixed round " +
            "count under-iterates this graph, increase rounds")
      }
      i += 1
    }
    cur
  }

  /** Normalizes an edge list to `(src, dst)`, optionally deduped, and
    * returns (edges, nodes-with-degree, node count). Shared by the
    * float and exact-integer iterations. `__deg` is NULL for dangling
    * nodes (no out-edges) — carried inside the rank table so each
    * round can compute the dangling mass without re-joining.
    */
  private def prepare(edges: DataFrame, dedupEdges: Boolean): (DataFrame, DataFrame, Long) = {
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
    val e = (if (dedupEdges) e0.distinct() else e0).localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct()
    val outDeg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("__deg"))
    val nodesDeg = nodes.join(outDeg, Seq("id"), "left").localCheckpoint(true)
    (e, nodesDeg, nodesDeg.count())
  }

  /** One rank update round, shared shape for both arithmetics:
    * ranks carries (id, rank, __deg); `update` builds the new rank
    * from (`__in` nullable inbound sum, `__dang` 1-row dangling sum).
    */
  private def round(e: DataFrame, ranks: DataFrame, share: Column, zero: Column,
      update: Column, checkpoint: Boolean,
      static: Seq[String] = Seq("__deg")): DataFrame = {
    val dang = ranks.filter(col("__deg").isNull)
      .agg(coalesce(sum("rank"), zero).as("__dang"))
    val contribs = e.join(ranks.filter(col("__deg").isNotNull), e("src") === ranks("id"))
      .groupBy(e("dst").as("id")).agg(sum(share).as("__in"))
    val next = ranks.select(col("id") +: static.map(col): _*)
      .join(contribs, Seq("id"), "left")
      .crossJoin(dang) // 1 row — broadcast nested loop, no shuffle
      .select(col("id") +: update.as("rank") +: static.map(col): _*)
    if (checkpoint) next.localCheckpoint(true) else next
  }

  /** PageRank with uniform teleport over an UNWEIGHTED directed edge
    * list `(src, dst)`. Returns `(id, rank)` for every node appearing
    * as a source or destination; ranks sum to the node count (the
    * standard normalization where a rankless graph starts at 1.0 per
    * node).
    *
    * Dangling nodes (no out-edges) redistribute their mass uniformly
    * each round — without that term the total rank leaks and
    * comparisons across graphs are meaningless. Duplicate edges count
    * once (`distinct`): the common corpus-graph convention; pass a
    * pre-weighted multi-edge variant through `dedupEdges = false` if
    * multiplicity should weight the walk.
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int = 10,
      damping: Double = 0.85,
      dedupEdges: Boolean = true,
      checkpointEvery: Int = 8,
      convergence: Option[Convergence] = None): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val (e, nodesDeg, nNodes) = prepare(edges, dedupEdges)
    val init = nodesDeg.select(col("id"), lit(1.0).as("rank"), col("__deg"))
    // same association order as the scalar reference implementation:
    // ((1-d) + d*dang/N) + d*inbound
    val update = (lit(1.0 - damping) +
      lit(damping) * col("__dang") / lit(nNodes.toDouble)) +
      lit(damping) * coalesce(col("__in"), lit(0.0))
    runRounds(iterations, checkpointEvery, convergence,
        "pageRank", "id", Seq("rank"), init) { (ranks, _) =>
      round(e, ranks, col("rank") / col("__deg"), lit(0.0), update, checkpoint = false)
    }.select("id", "rank")
  }

  /** PERSONALIZED PageRank in the same exact scaled-integer arithmetic
    * as [[pageRankExact]]: the teleport (and the dangling mass) goes
    * uniformly to the SEED set instead of all nodes — authority
    * relative to a trusted set, the quality-propagation primitive for
    * seeded corpus curation ("rank pages by proximity to known-good
    * domains"). Seeds are the first column of `seeds`; seeds absent
    * from the graph are ignored.
    *
    * Update rule (all `div` integral, non-negative):
    * {{{
    *   rank'(i) = (dampNum * (inbound(i) + [i∈S]·(dang div |S|))) div dampDen
    *              + [i∈S] · teleSeed
    *   teleSeed = ((dampDen−dampNum)·N·scale div |S|) div dampDen
    * }}}
    * Integer sums are order-independent → bit-identical on any engine
    * mirroring the rule (q_ppr's DuckDB chained-CTE oracle).
    */
  def personalizedPageRankExact(
      edges: DataFrame,
      seeds: DataFrame,
      iterations: Int = 5,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      scale: Long = 1000000L,
      dedupEdges: Boolean = true,
      checkpointEvery: Int = 8,
      convergence: Option[Convergence] = None): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    require(dampNum > 0 && dampNum < dampDen, s"need 0 < dampNum < dampDen, got $dampNum/$dampDen")
    require(scale > 0, s"scale must be positive, got $scale")
    val (e, nodesDeg0, nNodes) = prepare(edges, dedupEdges)
    val seedIds = seeds.select(col(seeds.columns(0)).as("id")).distinct()
    val nodesDeg = nodesDeg0
      .join(seedIds.withColumn("__seed", lit(true)), Seq("id"), "left")
      .select(col("id"), col("__deg"), coalesce(col("__seed"), lit(false)).as("__seed"))
      .localCheckpoint(true)
    val nSeeds = nodesDeg.filter(col("__seed")).count()
    require(nSeeds > 0, "personalizedPageRankExact needs >= 1 seed present in the graph")
    val teleSeed = (((dampDen - dampNum) * nNodes * scale) / nSeeds) / dampDen
    val init = nodesDeg.select(col("id"), lit(scale).as("rank"), col("__deg"), col("__seed"))
    val update = expr(
      s"(${dampNum}L * (coalesce(__in, 0L) + " +
        s"(CASE WHEN __seed THEN __dang div ${nSeeds}L ELSE 0L END))) div ${dampDen}L" +
        s" + (CASE WHEN __seed THEN ${teleSeed}L ELSE 0L END)")
    runRounds(iterations, checkpointEvery, convergence,
        "personalizedPageRankExact", "id", Seq("rank"), init) { (ranks, _) =>
      round(e, ranks, expr("rank div __deg"), lit(0L), update,
        checkpoint = false, static = Seq("__deg", "__seed"))
    }.select("id", "rank")
  }

  /** Exact triangle count over an UNDIRECTED graph (edge direction and
    * duplicates ignored; self-loops dropped). Returns one row
    * `(n_triangles)`.
    *
    * Uses the degree-orientation algorithm: every node gets the
    * integer rank `degree·2^32 + id`, each edge is oriented from the
    * lower to the higher rank, and a triangle is counted exactly once
    * — at its minimum-rank vertex, as a pair of out-edges closed by a
    * third oriented edge. Orienting by DEGREE (not id) bounds the
    * wedge fan-out at Σ out-deg² = O(m^1.5) regardless of hubs — the
    * difference between a web-scale graph finishing and its highest-
    * degree node exploding quadratically. Plan: two hash joins to
    * rank-encode, one self-join on the wedge apex, one semi join to
    * close — all keyed shuffles, one driver-visible count.
    *
    * Rank packing needs `id` in [0, 2^32) and degree < 2^30 —
    * asserted, not assumed.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val cols = edges.columns
    val raw = edges.select(col(cols(0)).cast("long").as("u"), col(cols(1)).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = raw
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct().localCheckpoint(true)
    val deg = und.select(col("a").as("id")).union(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__d"))
    // rank = degree·2^32 + id: a single comparable long. Guard the
    // packing envelope loudly rather than miscounting.
    val bad = deg.filter(col("id") < 0 || col("id") >= (1L << 32) || col("__d") >= (1L << 30))
    require(bad.isEmpty, "triangleCount rank packing needs 0 <= id < 2^32 and degree < 2^30")
    val rank = deg.select(col("id"), (col("__d") * (1L << 32) + col("id")).as("__r"))
    // `ensure`: AQE coalesces the small post-join edge set to ONE
    // checkpoint block locally, and the wedge generation + semi-probe
    // stage — the whole O(m^1.5) compute of this operator — then
    // streams through the broadcast joins as a SINGLE task (round-15
    // profile: 1.18 s single-task stage ≈ 45% of the query's wall).
    // The guard repartitions the model-scale checkpointed frame back
    // to task parallelism and is a no-op at real scale, where the
    // frame is already wide (guide §2.5 single-task stages).
    val oriented = graft.util.Parallelism.ensure(und
      .join(rank.select(col("id").as("a"), col("__r").as("__ra")), Seq("a"))
      .join(rank.select(col("id").as("b"), col("__r").as("__rb")), Seq("b"))
      .select(least(col("__ra"), col("__rb")).as("x"), greatest(col("__ra"), col("__rb")).as("y"))
      .localCheckpoint(true))
    val wedges = oriented.toDF("x", "y")
      .join(oriented.toDF("x", "z"), Seq("x"))
      .filter(col("y") < col("z"))
    wedges
      .join(oriented.toDF("y", "z"), Seq("y", "z"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** PageRank in EXACT scaled-integer arithmetic: ranks are BIGINT
    * micro-units (`scale` per 1.0), damping is the rational
    * `dampNum/dampDen`, and every division is integral floor division
    * (operands are non-negative, so truncation == floor). Integer
    * sums are order-independent, so the result is bit-identical on
    * ANY engine that implements the same update rule — which is what
    * makes this variant DuckDB-oracle-checkable (a chained-CTE mirror
    * hashes equal), unlike the float fixpoint whose sums depend on
    * partitioning.
    *
    * Update rule, applied in this exact order (all `div` integral):
    * {{{
    *   share(src)  = rank div __deg                  (per out-edge)
    *   inbound(id) = sum(shares over in-edges)       (0 if none)
    *   dang        = sum(rank over dangling nodes)
    *   rank'       = ((dampDen-dampNum)*scale) div dampDen
    *                 + (dampNum * (inbound + dang div N)) div dampDen
    * }}}
    * Truncation loses < 1 micro-unit per term per round — fine for
    * ranking/sampling use; use [[pageRank]] when float precision
    * matters more than cross-engine exactness.
    */
  def pageRankExact(
      edges: DataFrame,
      iterations: Int = 5,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      scale: Long = 1000000L,
      dedupEdges: Boolean = true,
      checkpointEvery: Int = 8,
      convergence: Option[Convergence] = None): DataFrame = {
    require(iterations > 0, s"iterations must be positive, got $iterations")
    require(dampNum > 0 && dampNum < dampDen, s"need 0 < dampNum < dampDen, got $dampNum/$dampDen")
    require(scale > 0, s"scale must be positive, got $scale")
    val (e, nodesDeg, nNodes) = prepare(edges, dedupEdges)
    val base = ((dampDen - dampNum) * scale) / dampDen // exact: driver long div
    val init = nodesDeg.select(col("id"), lit(scale).as("rank"), col("__deg"))
    val update = expr(
      s"${base}L + (${dampNum}L * (coalesce(__in, 0L) + __dang div ${nNodes}L)) div ${dampDen}L")
    runRounds(iterations, checkpointEvery, convergence,
        "pageRankExact", "id", Seq("rank"), init) { (ranks, _) =>
      round(e, ranks, expr("rank div __deg"), lit(0L), update, checkpoint = false)
    }.select("id", "rank")
  }

  /** SYNCHRONOUS label propagation (Raghavan et al. 2007) — community
    * detection, the third graph primitive next to connected components
    * (structural) and PageRank (authority): every node starts labeled
    * with its own id; each round EVERY node simultaneously adopts the
    * most frequent label among its neighbors, ties broken by the
    * SMALLEST label. Edges are symmetrized and deduped, so "neighbor"
    * is undirected-adjacent. Returns `(id, community)` after a FIXED
    * number of rounds.
    *
    * Determinism is designed in, unlike textbook asynchronous LPA
    * (random visit order, random tie-break): synchronous update +
    * exact counts + total tie order make the result a pure function
    * of the graph — the property that lets a DuckDB chained-CTE
    * mirror hash-match bit-for-bit, and that makes reruns of a corpus
    * job reproducible. The price is the known synchronous-LPA
    * oscillation on bipartite-ish structure; a fixed small `rounds`
    * (the common production choice) is also what bounds the plan.
    *
    * Scale shape: per round, ONE join labels⋈edges (hash-partitioned
    * on the node id), one (node,label) count aggregate, one struct-min
    * argmax aggregate on the node — no window over the corpus, no
    * driver action inside the loop. `checkpointEvery` defaults to
    * EVERY round: `labels` is referenced twice per round (contribs
    * join + carry-forward left join), so the lazy plan doubles each
    * round — `checkpointEvery` defaults to 4, which keeps the common
    * 4-round call fully lazy (measured ~1 s vs 5-6 s with per-round
    * cuts: the .rdd materialization path costs more than the 2^4
    * tower); see [[bfsDistances]].
    */
  def labelPropagation(
      edges: DataFrame,
      rounds: Int,
      checkpointEvery: Int = 4,
      convergence: Option[Convergence] = None,
      assumeSymDeduped: Boolean = false): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
    // assumeSymDeduped: the caller certifies `edges` is ALREADY the
    // symmetrized distinct (and materialized) edge set — composing
    // operators over the same graph (q_modularity = LPA + modularity)
    // otherwise pays the union+distinct shuffle once PER OPERATOR
    // (guide §2.4: share one exchange). Symmetrizing a symmetric set
    // is a no-op, so passing a certified set through the default path
    // would compute the identical frame — this just skips that pass.
    val sym =
      if (assumeSymDeduped) e0
      else e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(true)
    val init = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    runRounds(rounds, checkpointEvery, convergence,
        "labelPropagation", "id", Seq("lbl"), init) { (labels, _) =>
      val contribs = sym.join(labels.select(col("id").as("src"), col("lbl")), Seq("src"))
        .groupBy(col("dst").as("id"), col("lbl")).agg(count(lit(1)).as("__c"))
      // argmax(count) with min-label tie-break as ONE struct-min agg —
      // the resolveDuplicatesBy keeper pattern, no per-node window.
      val best = contribs.groupBy("id")
        .agg(min(struct((-col("__c")).as("nc"), col("lbl").as("l"))).as("__b"))
        .select(col("id"), col("__b.l").as("__newl"))
      labels.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("__newl"), col("lbl")).as("lbl"))
    }.select(col("id"), col("lbl").as("community"))
  }

  /** Multi-source BFS over a DIRECTED edge list: hop distance from the
    * nearest seed, explored for a FIXED number of rounds (the k-hop
    * neighborhood — lineage tracing "everything derived within k steps
    * of these documents", influence frontiers, contamination spread).
    * Returns `(id, dist)` for REACHED nodes only; unreached nodes are
    * absent rather than carrying a sentinel. Symmetrize edges upstream
    * for undirected reach.
    *
    * All-integer arithmetic (dist = exact hop count, min is
    * order-independent), so a DuckDB chained-CTE mirror hashes
    * bit-identically — same determinism contract as [[pageRankExact]]
    * and [[labelPropagation]].
    *
    * Scale shape: per round ONE frontier⋈edges hash join + one min
    * aggregate, both partitioned on the node id; the frontier table is
    * bounded by the reachable set, never the edge count. No driver
    * action inside the loop. Unlike [[pageRankExact]]'s rank table
    * (referenced once per round, so lazy lineage stays linear and
    * every-8 wins), `dist` is referenced TWICE per round (the relax
    * join and the union), so the lazy plan doubles each round —
    * `checkpointEvery` defaults to 4 (see the object doc's sweep).
    */
  def bfsDistances(
      edges: DataFrame,
      seeds: DataFrame,
      rounds: Int,
      dedupEdges: Boolean = true,
      checkpointEvery: Int = 4,
      convergence: Option[Convergence] = None): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
    val e = (if (dedupEdges) e0.distinct() else e0).localCheckpoint(true)
    val init = seeds.select(col(seeds.columns.head).as("id")).distinct()
      .select(col("id"), lit(0L).as("dist"))
    runRounds(rounds, checkpointEvery, convergence,
        "bfsDistances", "id", Seq("dist"), init) { (dist, _) =>
      val next = e.join(dist.select(col("id").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("id"), (col("dist") + 1L).as("dist"))
      dist.unionByName(next)
        .groupBy("id").agg(min("dist").as("dist"))
    }
  }

  /** Multi-source WEIGHTED shortest paths — Bellman–Ford relaxation
    * over non-negative integer edge weights, the cost-aware upgrade of
    * [[bfsDistances]] (hop counts are the `w ≡ 1` special case):
    * shortest latency through a dependency graph, cheapest routing
    * hops, influence radius under edge costs. Returns `(id, dist)` for
    * nodes reached within `rounds` relaxations; a path with more hops
    * but less weight wins, which plain BFS cannot express.
    *
    * Parallel edges collapse to their min weight up front; negative
    * weights are rejected loudly (fixed-round relaxation has no
    * negative-cycle detection, so silence would mean wrong answers).
    * `dist` stays an exact BIGINT and `min` is order-independent, so a
    * DuckDB chained-CTE mirror ([[shortestPathsSql]]) hashes
    * bit-identically — the [[pageRankExact]] determinism contract.
    *
    * Scale shape: per round ONE dist⋈edges hash join + one min agg,
    * both keyed on the node id; no driver action in the loop.
    * `dist` is referenced twice per round (relax join + union), so
    * the lazy plan doubles per round — `checkpointEvery` defaults to
    * 4; see [[bfsDistances]]. `rounds` is the caller's hop
    * radius — relaxation is monotone and idempotent past the fixpoint,
    * so extra rounds are no-ops (the [[kCore]] fixed-unroll argument).
    */
  def shortestPaths(
      edges: DataFrame,
      seeds: DataFrame,
      rounds: Int,
      checkpointEvery: Int = 4,
      convergence: Option[Convergence] = None): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val cols = edges.columns
    val e = edges
      .select(col(cols(0)).as("src"), col(cols(1)).as("dst"),
        col(cols(2)).cast("long").as("w"))
      .withColumn("w", when(col("w") >= 0L, col("w")).otherwise(raise_error(
        concat(lit("shortestPaths: negative edge weight: "), col("w")))))
      .groupBy("src", "dst").agg(min("w").as("w"))
      .localCheckpoint(true)
    val init = seeds.select(col(seeds.columns.head).as("id")).distinct()
      .select(col("id"), lit(0L).as("dist"))
    runRounds(rounds, checkpointEvery, convergence,
        "shortestPaths", "id", Seq("dist"), init) { (dist, _) =>
      val relaxed = e.join(dist.select(col("id").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("id"), (col("dist") + col("w")).as("dist"))
      dist.unionByName(relaxed)
        .groupBy("id").agg(min("dist").as("dist"))
    }
  }

  /** DuckDB mirror of [[shortestPaths]]: one relax CTE per round over
    * prior CTEs `edges(src, dst, w)` (parallel edges ALREADY collapsed
    * to min weight, as the operator does) and `d0(id, dist)` seeds.
    */
  def shortestPathsSql(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, d.dist + e.w AS dist
         |    FROM d${i - 1} d JOIN edges e ON d.id = e.src) GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""$rs
       |SELECT id, dist FROM d$rounds""".stripMargin
  }

  /** TIME-RESPECTING reachability over a temporal edge list
    * `(src, dst, t)` — information can only flow FORWARD in time, so a
    * path is valid only if its edge times are non-decreasing from the
    * hop before (Kempe/Kleinberg/Kumar 2000's temporal paths): "what
    * could this document have influenced", contact tracing, cascade
    * radius. Plain [[bfsDistances]] over the same edges OVERSTATES
    * reach — it happily routes through an edge that fired before the
    * node was itself reached; specs pin a case where the static BFS
    * reaches a node the temporal one provably cannot.
    *
    * Returns `(id, arrival)` — the EARLIEST time each reachable node
    * can be reached, seeds at `startTime`. Relaxation: along edge
    * `(u→v, t)`, v's candidate arrival is `t` when `t ≥ arrival(u)`;
    * min over candidates. Monotone + idempotent past the fixpoint, so
    * the FIXED `rounds` unroll is sound and mirrorable as chained CTEs
    * (the [[pageRankExact]] contract — all-integer, min is
    * order-independent, bit-exact).
    *
    * Shape: per round one arrival⋈edges hash join (filtered by the
    * time guard BEFORE the aggregate) + one min agg, keyed on the node
    * id. `arrival` feeds the relax join and the union —
    * `checkpointEvery` defaults to 4 (see [[bfsDistances]]).
    */
  def temporalBfs(
      edges: DataFrame,
      seeds: DataFrame,
      rounds: Int,
      startTime: Long = Long.MinValue,
      dedupEdges: Boolean = true,
      checkpointEvery: Int = 4,
      convergence: Option[Convergence] = None): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).as("src"), col(cols(1)).as("dst"),
      col(cols(2)).cast("long").as("t"))
    // min(arrival) is idempotent to duplicate edges, so dedup is a
    // fan-out/checkpoint-size optimization, not a correctness need —
    // callers with provably-unique edges skip the extra shuffle.
    val e = (if (dedupEdges) e0.distinct() else e0).localCheckpoint(true)
    val init = seeds.select(col(seeds.columns.head).as("id")).distinct()
      .select(col("id"), lit(startTime).as("arrival"))
    runRounds(rounds, checkpointEvery, convergence,
        "temporalBfs", "id", Seq("arrival"), init) { (arrival, _) =>
      val relaxed = e
        .join(arrival.select(col("id").as("src"), col("arrival")), Seq("src"))
        .filter(col("t") >= col("arrival"))
        .select(col("dst").as("id"), col("t").as("arrival"))
      arrival.unionByName(relaxed)
        .groupBy("id").agg(min("arrival").as("arrival"))
    }
  }

  /** DuckDB mirror of [[temporalBfs]]: one relax CTE per round over
    * prior CTEs `edges(src, dst, t)` (deduped) and `a0(id, arrival)`.
    */
  def temporalBfsSql(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      s"""a$i AS (
         |  SELECT id, min(arrival) AS arrival FROM (
         |    SELECT id, arrival FROM a${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, e.t AS arrival
         |    FROM a${i - 1} a JOIN edges e ON a.id = e.src AND e.t >= a.arrival)
         |  GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""$rs
       |SELECT id, arrival FROM a$rounds""".stripMargin
  }

  /** k-core of an UNDIRECTED graph (edges symmetrized + deduped):
    * iteratively peel nodes of degree < k until only the core — the
    * maximal subgraph where every node keeps ≥ k neighbors — remains.
    * The standard link-graph cleanup (spam farms and orphan pages fall
    * out of the 2-/3-core) and the densest-region seed for community
    * mining. Returns `(id, deg)` for core members, `deg` the degree
    * INSIDE the core.
    *
    * Peeling runs a FIXED `rounds` count with no per-round driver
    * action or convergence check — peeling is monotone (the alive set
    * only shrinks) and idempotent at the fixpoint, so extra rounds are
    * no-ops and a fixed unroll is oracle-mirrorable as one chained CTE
    * per round (the [[pageRankExact]] pattern). Callers size `rounds`
    * to the graph (specs assert rounds−1 ≡ rounds on the fixture —
    * fixpoint reached). Each round is two hash joins (edge endpoints ⋈
    * alive set, both keyed on the node id) + one count agg; the alive
    * set only ever shrinks, so round cost is non-increasing.
    * `alive` is referenced TWICE per round (src- and dst-side joins),
    * so the lazy plan doubles each round — `checkpointEvery` defaults
    * to 4: measured at sf0.1/8 rounds, fully lazy 12.2 s vs 2.5-3 s
    * (same rows); see [[bfsDistances]] and the object doc's sweep.
    */
  def kCore(
      edges: DataFrame, k: Int, rounds: Int,
      checkpointEvery: Int = 4,
      convergence: Option[Convergence] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)
    // loop state is (id, deg) of the current survivor set — deg rides
    // along so the final state IS the result and a stable (id, deg)
    // span is exactly the peeling fixpoint the telemetry watches
    val init = sym.select(col("src").as("id")).distinct()
      .select(col("id"), lit(null).cast("long").as("deg"))
    runRounds(rounds, checkpointEvery, convergence,
        "kCore", "id", Seq("deg"), init) { (alive, _) =>
      sym
        .join(alive.select(col("id").as("src")), Seq("src"))
        .join(alive.select(col("id").as("dst")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
    }
  }

  /** DuckDB mirror of [[kCore]]: the same fixed-round peel as chained
    * CTEs over a prior `sym(src, dst)` CTE (symmetrized, deduped,
    * self-loops dropped).
    */
  def kCoreSql(k: Int, rounds: Int): String = {
    val r = (1 to rounds).map { i =>
      val prev = if (i == 1) "a0" else s"a${i - 1}"
      s"""d$i AS (
         |  SELECT e.src AS id, count(*) AS deg
         |  FROM sym e JOIN $prev s ON e.src = s.id JOIN $prev t ON e.dst = t.id
         |  GROUP BY e.src),
         |a$i AS (SELECT id FROM d$i WHERE deg >= $k)""".stripMargin
    }.mkString(",\n")
    s"""a0 AS (SELECT DISTINCT src AS id FROM sym),
       |$r
       |SELECT id, deg FROM d$rounds WHERE deg >= $k""".stripMargin
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) in EXACT scaled-integer
    * arithmetic — the second link-analysis score next to
    * [[pageRankExact]], and the natural one for BIPARTITE-ish corpus
    * graphs (crawl seeds ↔ pages, queries ↔ documents, users ↔ items):
    * a good hub points at good authorities, a good authority is pointed
    * at by good hubs. Returns `(id, auth, hub)` for every node.
    *
    * Update rule per round, applied in this exact order (all `div`
    * integral on non-negative operands, so truncation == floor):
    * {{{
    *   authRaw(i) = Σ_{j→i} hub(j)                 (0 if no in-edges)
    *   auth(i)    = (authRaw(i) · N·scale) div max(Σ authRaw, 1)
    *   hubRaw(i)  = Σ_{i→j} auth(j)                (NEW auths — standard HITS)
    *   hub(i)     = (hubRaw(i) · N·scale) div max(Σ hubRaw, 1)
    * }}}
    * L1 normalization to a total of `N·scale` replaces the textbook L2
    * norm: the ranking is identical (normalization is a positive
    * scalar), per-node resolution stays at ~`scale`, and — unlike a
    * square root — integer division is exactly mirrorable, so a DuckDB
    * chained-CTE oracle ([[hitsSql]]) hashes bit-identically (the
    * [[pageRankExact]] determinism contract). The `max(·,1)` guard
    * makes the degenerate no-mass round yield all-zero scores instead
    * of dividing by zero, identically on both engines.
    *
    * ALL integer accumulation runs through decimal(38,0) (DuckDB
    * HUGEINT): the per-node raw sums AND the 1-row total — a plain
    * LongType sum would wrap silently once Σ raw = Σ_j outdeg(j)·score(j)
    * ≤ maxdeg·N·scale passes 2⁶³ (maxdeg·N ≈ 9·10¹² at the default
    * scale) while the HUGEINT mirror kept going, silently diverging.
    * Per-node raw ≤ N·scale, so the raw·N·scale product is ≤ (N·scale)²
    * and the total ≤ maxdeg·N·scale ≤ N²·scale ≈ 10³¹ at N = 3·10¹² —
    * everything inside decimal(38,0), so the envelope is genuinely
    * N ≈ 3·10¹² nodes at the default micro-unit scale.
    *
    * Scale shape: per round two hash joins (edges ⋈ scores, keyed on
    * the node id) + two keyed sum aggregates + two 1-row totals folded
    * in via broadcast cross join. No driver action inside the loop; the
    * node count is the one pre-loop action (shared with
    * [[pageRankExact]]'s `prepare`). `checkpointEvery` defaults to 1,
    * not the object doc's 4: a round reads the score table about six
    * times (`auth` feeds both `hubRaw` and the final join, and
    * `normalize` reads each raw table twice), so an uncut 4-round
    * unroll holds ~6⁴ copies of a round, and AQE's re-planning of that
    * plan, not data, dominates. On 4 cores, `ClustersSpec`'s three
    * random 4-round digraphs (25 nodes each) took 270 s in all at
    * every 4 rounds, 33 s at every 3, 16 s at every 2 and 9 s at every
    * round, with identical results: each checkpoint materializes its
    * tower through the `.rdd` path without AQE, so a deeper tower costs
    * more per cut. The price is an eager checkpoint per round: `q_hits`
    * (3 rounds, sf0.1) went from 11 jobs to 37.
    */
  def hitsExact(
      edges: DataFrame,
      rounds: Int,
      scale: Long = 1000000L,
      dedupEdges: Boolean = true,
      checkpointEvery: Int = 1,
      convergence: Option[Convergence] = None): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    require(scale > 0, s"scale must be positive, got $scale")
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
    val e = (if (dedupEdges) e0.distinct() else e0).localCheckpoint(true)
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    val target = nodes.count() * scale // Σ after each normalization
    val dec = "decimal(38,0)"
    def normalize(raw: DataFrame, outName: String): DataFrame = {
      // __raw is decimal(38,0); the total must be too — a LongType sum
      // wraps at maxdeg·N·scale > 2^63 while the HUGEINT mirror doesn't.
      val tot = raw.agg(sum(col("__raw")).as("__tot"))
      raw.crossJoin(broadcast(tot)) // 1 row
        .select(col("id"), expr(
          s"(__raw * ${target}L) div greatest(__tot, cast(1 as decimal(38,0)))")
          .as(outName))
    }
    val init = nodes.select(col("id"), lit(scale).as("auth"), lit(scale).as("hub"))
    runRounds(rounds, checkpointEvery, convergence,
        "hitsExact", "id", Seq("auth", "hub"), init) { (scores, _) =>
      val authRaw = nodes
        .join(e.join(scores.select(col("id").as("src"), col("hub")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(sum(col("hub").cast(dec)).as("__s")), Seq("id"), "left")
        .select(col("id"), coalesce(col("__s"), lit(0L).cast(dec)).as("__raw"))
      val auth = normalize(authRaw, "auth")
      val hubRaw = nodes
        .join(e.join(auth.select(col("id").as("dst"), col("auth")), Seq("dst"))
          .groupBy(col("src").as("id")).agg(sum(col("auth").cast(dec)).as("__s")), Seq("id"), "left")
        .select(col("id"), coalesce(col("__s"), lit(0L).cast(dec)).as("__raw"))
      val hub = normalize(hubRaw, "hub")
      auth.join(hub, Seq("id"))
    }.select("id", "auth", "hub")
  }

  /** DuckDB mirror of [[hitsExact]]: the same fixed-round update as
    * chained CTEs over prior CTEs `edges(src, dst)` (already deduped
    * when the operator dedups) and `nodes(id)`. `target` must be the
    * node count times the scale — the oracle computes it as a CTE so
    * the SQL needs no driver-side count.
    */
  def hitsSql(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      s"""ar$i AS (
         |  SELECT n.id, COALESCE(x.v, 0) AS raw FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS id, sum(h.hub) AS v
         |    FROM edges e JOIN s${i - 1} h ON e.src = h.id GROUP BY e.dst) x
         |  ON n.id = x.id),
         |a$i AS (
         |  SELECT r.id,
         |    CAST((CAST(r.raw AS HUGEINT) * t.target) // greatest(tt.tot, 1) AS BIGINT) AS auth
         |  FROM ar$i r CROSS JOIN (SELECT sum(raw) AS tot FROM ar$i) tt CROSS JOIN tgt t),
         |hr$i AS (
         |  SELECT n.id, COALESCE(x.v, 0) AS raw FROM nodes n LEFT JOIN (
         |    SELECT e.src AS id, sum(a.auth) AS v
         |    FROM edges e JOIN a$i a ON e.dst = a.id GROUP BY e.src) x
         |  ON n.id = x.id),
         |h$i AS (
         |  SELECT r.id,
         |    CAST((CAST(r.raw AS HUGEINT) * t.target) // greatest(tt.tot, 1) AS BIGINT) AS hub
         |  FROM hr$i r CROSS JOIN (SELECT sum(raw) AS tot FROM hr$i) tt CROSS JOIN tgt t),
         |s$i AS (SELECT a.id, a.auth, h.hub FROM a$i a JOIN h$i h ON a.id = h.id)""".stripMargin
    }.mkString(",\n")
    s"""$rs
       |SELECT id, auth, hub FROM s$rounds""".stripMargin
  }

  /** Bipartite projection: from a `(basket, item)` incidence list to
    * the item–item co-occurrence graph — `(item_a, item_b, n_shared)`
    * for unordered pairs sharing at least `minShared` baskets. The
    * market-basket / co-click / co-citation primitive, and the usual
    * way a link graph is DERIVED from raw membership data before
    * [[pageRank]] / [[Clusters]] run on it.
    *
    * Baskets with more than `maxDegree` distinct items are dropped
    * BEFORE pairing — the standard co-occurrence hygiene: one hub
    * basket of degree d contributes d²/2 pairs, so a single
    * crawl-everything user would dominate the graph and the runtime
    * (the same reason the LSH paths cap bucket sizes). The cap bounds
    * per-basket fan-out at maxDegree²/2; the cutoff is a loud, tunable
    * contract, not a silent truncation — mirror it in any oracle.
    *
    * Shape: one distinct, one degree agg + semi join (broadcast-sized
    * when baskets are many and the cap is small), one basket-keyed
    * self-join, one pair-keyed count agg. Every shuffle is keyed by
    * the basket or the pair — nothing global, no window.
    */
  /** Pairwise ASSOCIATION RULES over a `(basket, item)` incidence list
    * — the recommendation/affinity layer on top of
    * [[bipartiteProject]]'s raw co-occurrence counts: for each ordered
    * pair A→B with `support ≥ minShared` baskets,
    * {{{
    *   confidence = n_ab / n_a          (P(B | A))
    *   lift·1e6   = n_ab·T·1e6 / (n_a·n_b)   (>1e6 ⇔ positive assoc.)
    * }}}
    * both as EXACT integer ppm (counts in, integral divisions out —
    * bit-identical on any engine; T = distinct baskets after the same
    * `maxDegree` hub cap as the projection, so support/confidence/lift
    * are all measured on the SAME censored universe — mixing capped
    * pair counts with uncapped totals would overstate lift).
    *
    * Returns `(item_a, item_b, n_a, n_b, n_ab, confidence_ppm,
    * lift_ppm)` — BOTH directions of every co-occurring pair
    * (confidence is asymmetric). Shape: the bipartiteProject joins
    * plus one broadcast item-count table and a 1-row total; nothing
    * new shuffles.
    */
  def associationRules(edges: DataFrame, maxDegree: Int,
      minShared: Long = 1L): DataFrame = {
    val cols = edges.columns
    val e = edges.select(col(cols(0)).as("basket"), col(cols(1)).as("item"))
      .distinct().localCheckpoint(true)
    val keep = e.groupBy("basket").agg(count(lit(1)).as("__d"))
      .filter(col("__d") <= maxDegree).select("basket")
      .localCheckpoint(true) // feeds the pair join, item counts, and T
    val k = e.join(keep, Seq("basket"))
    val itemCnt = k.groupBy(col("item")).agg(count(lit(1)).as("__n"))
    val tot = keep.agg(count(lit(1)).as("__t"))
    val pairs = k.select(col("basket"), col("item").as("item_a"))
      .join(k.select(col("basket"), col("item").as("item_b")), Seq("basket"))
      .filter(col("item_a") =!= col("item_b")) // ordered: both directions
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minShared)
    pairs
      .join(itemCnt.select(col("item").as("item_a"), col("__n").as("n_a")), Seq("item_a"))
      .join(itemCnt.select(col("item").as("item_b"), col("__n").as("n_b")), Seq("item_b"))
      .crossJoin(broadcast(tot))
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"), col("n_ab"),
        expr("(n_ab * 1000000L) div n_a").as("confidence_ppm"),
        // decimal(38,0): n_ab·T·1e6 passes 2^63 beyond ~1e9-basket
        // corpora; HUGEINT mirrors exactly
        expr("(cast(n_ab as decimal(38,0)) * __t * 1000000L) div (cast(n_a as decimal(38,0)) * n_b)")
          .as("lift_ppm"))
  }

  def bipartiteProject(edges: DataFrame, maxDegree: Int,
      minShared: Long = 1L): DataFrame = {
    require(maxDegree > 0, s"maxDegree must be positive, got $maxDegree")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val cols = edges.columns
    val e = edges.select(col(cols(0)).as("basket"), col(cols(1)).as("item"))
      .distinct().localCheckpoint(true)
    val keep = e.groupBy("basket").agg(count(lit(1)).as("__d"))
      .filter(col("__d") <= maxDegree).select("basket")
    val k = e.join(keep, Seq("basket"))
    k.select(col("basket"), col("item").as("item_a"))
      .join(k.select(col("basket"), col("item").as("item_b")), Seq("basket"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003)
    * — "which unlinked pairs are most likely to connect": for every
    * non-adjacent pair (u, v), the number of shared neighbors, with
    * the preferential-attachment product `deg(u)·deg(v)` as the
    * exact-integer secondary signal. Top-k under the total order
    * (n_common DESC, u, v) — deterministic because (u, v) is unique.
    *
    * Scale shape: wedges are generated ONLY through middle nodes of
    * degree ≤ `maxDegree` (the hub cap — a degree-d middle emits
    * d²/2 pairs, so one celebrity node would otherwise dominate the
    * shuffle; the cap is the same discipline as the LSH bucket cap
    * and is mirrored in the oracle). Everything else is node-keyed
    * aggs, an anti join against the existing edge set, and a
    * TakeOrderedAndProject top-k — no global sort.
    */
  def linkPredict(edges: DataFrame, maxDegree: Int, minCommon: Long,
      k: Int): DataFrame = {
    require(maxDegree > 0 && minCommon >= 1 && k >= 1,
      s"need maxDegree > 0, minCommon >= 1, k >= 1")
    val cols = edges.columns
    val e = edges.select(col(cols(0)).cast("long").as("a"),
        col(cols(1)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint(true)
    val sym = e.select(col("u").as("s"), col("v").as("d"))
      .unionByName(e.select(col("v").as("s"), col("u").as("d")))
    val deg = sym.groupBy("s").agg(count(lit(1)).as("dg"))
    val adj = sym.join(
      deg.filter(col("dg") <= maxDegree).select("s"), Seq("s"))
    val wedges = adj.select(col("s"), col("d").as("cu"))
      .join(adj.select(col("s"), col("d").as("cv")), Seq("s"))
      .filter(col("cu") < col("cv"))
      .groupBy(col("cu").as("u"), col("cv").as("v"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    wedges.join(e, Seq("u", "v"), "left_anti")
      .join(deg.select(col("s").as("u"), col("dg").as("__du")), Seq("u"))
      .join(deg.select(col("s").as("v"), col("dg").as("__dv")), Seq("v"))
      .select(col("u"), col("v"), col("n_common"),
        (col("__du") * col("__dv")).as("pa_score"))
      .orderBy(col("n_common").desc, col("u").asc, col("v").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_common").desc, col("u").asc, col("v").asc))
        .cast("long"))
  }

  /** NEWMAN MODULARITY of a node partition — "how much denser are
    * communities than chance" (Newman & Girvan 2004), the standard
    * quality score for [[labelPropagation]] output. Over the
    * symmetrized distinct edge set (2m directed rows), with `W` =
    * same-community directed rows (= 2·internal edges) and `d_c` =
    * community degree sums,
    * {{{ Q = W/(2m) − Σ_c d_c²/(2m)²  =  (2m·W − Σ d_c²) / (2m)² }}}
    * — ONE exact rational in decimal(38,0) ≡ HUGEINT, emitted in ppm
    * via the groupTrend truncating division (Q can be negative).
    * Returns one summary row `(n_nodes, n_communities, m_edges,
    * w_internal, q_ppm)`.
    *
    * Shape: symmetrize + two label joins (node-keyed), one
    * community-keyed agg for degrees, two 1-row folds. Nothing
    * quadratic, nothing driver-side.
    */
  def modularity(edges: DataFrame, communities: DataFrame,
      assumeSymDeduped: Boolean = false): DataFrame = {
    val dec = "decimal(38,0)"
    val cols = edges.columns
    val e0 = edges.select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
    // assumeSymDeduped: see [[labelPropagation]] — skips the second
    // union+distinct pass when the caller shares one symmetrized set.
    val sym =
      if (assumeSymDeduped) e0
      else e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    val ccols = communities.columns
    val lab = communities.select(col(ccols(0)).as("id"), col(ccols(1)).as("__c"))
    val je = sym
      .join(lab.select(col("id").as("src"), col("__c").as("__cs")), Seq("src"))
      .join(lab.select(col("id").as("dst"), col("__c").as("__cd")), Seq("dst"))
      .localCheckpoint(true)
    val w = je.agg(count(lit(1)).as("__two_m"),
      sum(when(col("__cs") === col("__cd"), 1L).otherwise(0L)).as("__w"))
    val dsq = je.groupBy("__cs").agg(count(lit(1)).as("__d"))
      .agg(sum(col("__d").cast(dec) * col("__d").cast(dec)).as("__dsq"),
        count(lit(1)).as("__nc"))
    val nn = lab.agg(count(lit(1)).as("__nn"))
    val num = (col("__two_m").cast(dec) * col("__w").cast(dec) - col("__dsq")) *
      lit(1000000L).cast(dec)
    val den = col("__two_m").cast(dec) * col("__two_m").cast(dec)
    w.join(broadcast(dsq)).join(broadcast(nn))
      .select(col("__nn").as("n_nodes"), col("__nc").as("n_communities"),
        expr("__two_m div 2").as("m_edges"),
        col("__w").as("w_internal"),
        when(den === 0, lit(null).cast("long"))
          .otherwise(((num - num % den) / den).cast("long")).as("q_ppm"))
  }

  /** Degree assortativity — Pearson correlation of endpoint degrees
    * over every directed stub of an undirected graph (Newman 2002):
    * positive = hubs attach to hubs (social nets), negative = hubs
    * attach to leaves (tech/bio nets). The coefficient is delegated
    * to [[Profiling.groupCorr]]'s exact integral form, so the output
    * is `(n_stubs, r2_ppm, corr_sign)` — r = sign·√(r²) — and the
    * decimal(38,0) envelope guard applies (degrees are small ints, so
    * it holds far past 10⁹ edges).
    *
    * Shape: edge dedup + one degree hash agg + two degree joins
    * keyed by node (shuffle hash joins at scale) + the 5-sum corr
    * fold. Never materializes anything node²-sized.
    */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .filter(col("__a") =!= col("__b")).distinct()
    val sym = e.union(e.select(col("__b").as("__a"), col("__a").as("__b")))
      .localCheckpoint(true) // feeds the degree agg AND the stub join
    val deg = sym.groupBy("__a").agg(count(lit(1)).as("__d"))
    val stubs = sym.select(col("__a").as("__n1"), col("__b").as("__n2"))
      .join(deg.select(col("__a").as("__n1"), col("__d").as("__da")), Seq("__n1"))
      .join(deg.select(col("__a").as("__n2"), col("__d").as("__db")), Seq("__n2"))
    Profiling.groupCorr(stubs.withColumn("__g", lit("all")), Seq("__g"),
        col("__da"), col("__db"))
      .select(col("n").as("n_stubs"), col("r2_ppm"), col("corr_sign"))
  }

  /** Edge reciprocity of a DIRECTED graph: the share of edges whose
    * reverse also exists — the "is this network conversational or
    * broadcast" diagnostic (and a sanity check before treating a
    * directed edge list as undirected). Exact floor-ppm.
    *
    * Shape: distinct edges, one self-join keyed by the reversed pair
    * (hash join — never nodes²), one 1-row fold.
    */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .filter(col("__a") =!= col("__b")).distinct()
      .localCheckpoint(true) // probe side AND (reversed) build side
    val rev = e.select(col("__b").as("__ra"), col("__a").as("__rb"),
      lit(true).as("__r"))
    e.join(rev, col("__a") === col("__ra") && col("__b") === col("__rb"),
        "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("__r"), 1L).otherwise(0L)).as("n_reciprocal"))
      .select(col("n_edges"), col("n_reciprocal"),
        expr("n_reciprocal * 1000000L div n_edges").as("reciprocity_ppm"))
  }
}
