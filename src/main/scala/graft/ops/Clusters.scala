package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.graftbridge.Bridge

/** Duplicate-cluster resolution: candidate pairs → connected
  * components → one keeper per cluster. This is the step that turns a
  * near-dup PAIR list (Dedup/Similarity output) into something a
  * corpus-pruning pipeline can act on: `(id, cluster_id, keep)`.
  *
  * Components are computed with the alternating large-star/small-star
  * algorithm (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14): every iteration is two shuffles on DataFrames
  * (a groupBy-min and a self-join on the same key, so the exchange is
  * reused), the edge list only ever shrinks toward the star form
  * (u → component-min), and convergence is O(log n) rounds. At 100 TB
  * the per-round cost is a hash aggregate + hash join on the
  * candidate-pair table, which LSH has already made sub-quadratic in
  * the corpus. Once the edge list fits a fixed driver budget, the
  * driver finishes with union-find (see [[connectedComponents]]).
  */
object Clusters {

  /** One large-star round: every node connects its strictly-larger
    * neighbors to the minimum of its closed neighborhood.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min("dst").as("__m"))
      .select(col("src"), least(col("src"), col("__m")).as("m"))
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** One small-star round: orient edges large→small, then connect every
    * smaller neighbor (and the center) to the neighborhood minimum.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val mins = or.groupBy("src").agg(min("dst").as("m"))
    or.join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(mins.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Edge-list size at or below which [[connectedComponents]] stops the
    * star rounds and finishes on the driver, and core-grid size at or
    * below which [[gridCluster]] clusters on the driver. Same order as the engine's
    * other driver-side limits (`EM.collectPatterns` and
    * `Scoring.calibrationStats` cap their collects at 100,000 rows).
    */
  private[graft] val DriverFinishEdges: Long = 100000L

  /** Star rounds the public operators run above the driver budget
    * before they stop unconverged and warn (see [[connectedComponents]]);
    * convergence takes O(log n) rounds.
    */
  private val MaxRounds = 25

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Connected components over an undirected pair list. Input: any
    * DataFrame whose first two columns are the edge endpoints (ids of
    * one orderable, hash-joinable type). Returns the star edge list
    * `(id, cluster_id)` for every NON-ROOT node — roots (= cluster
    * minima) and isolated nodes are absent; see [[resolveDuplicates]]
    * for the full labeling.
    *
    * A small graph takes ONE job past its input's own shuffles: a
    * bounded collect (`Bridge.distinctRows`) brings back the distinct
    * edges if there are at most [[DriverFinishEdges]] (100,000) of
    * them, and the driver finishes with union-find, returning the same
    * star edge list the rounds reach at their fixpoint: each non-root
    * node paired with its component minimum under Catalyst's ordering
    * for the id type, as a local frame. A task gives up the collect as
    * soon as its partition passes the budget.
    *
    * Above the budget the edges are checkpointed from the same RDD the
    * collect read, so the input's shuffles do not run again, and the
    * distributed rounds run until the edge set reaches a fixpoint
    * (checked with `except` — an exact, not probabilistic, test), the
    * count drops to the budget (then the driver finishes as above), or
    * `maxRounds` rounds have run, whichever first. `maxRounds` bounds
    * these distributed rounds only: the driver finish always converges,
    * and the job count no longer grows with the graph's diameter.
    * Each round is CHECKPOINTED, not merely persisted: a cached plan
    * still nests every previous round's plan inside its task binary, so
    * task (de)serialization grows exponentially with the round count —
    * the job appears to hang by round ~10 even on toy graphs.
    * `localCheckpoint` cuts the lineage to the materialized blocks (on a
    * real cluster with executor churn, point
    * `spark.sparkContext.setCheckpointDir` at durable storage and swap
    * in `checkpoint(true)`). The "did NOT converge" warning can fire
    * only on this path: when `maxRounds` runs out with more edges left
    * than the budget.
    *
    * Returns the edge list and whether it is star-form (one label per
    * node): true after a driver finish or converged rounds. A negative
    * `driverBudget` keeps every round distributed; a budget at or above
    * the `Int` bound always finishes on the driver.
    */
  private[graft] def connectedComponents(pairs: DataFrame, srcCol: String,
      dstCol: String, maxRounds: Int, driverBudget: Long): (DataFrame, Boolean) = {
    val input = pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    val small = if (driverBudget < 0) None
      else Bridge.distinctRows(input, math.min(driverBudget, Int.MaxValue.toLong).toInt)
    small match {
      case Some(rows) =>
        log.info(s"connectedComponents: driver finish over ${rows.length} edges")
        (finishOnDriver(input, rows), true)
      case None => starRounds(input, maxRounds, driverBudget)
    }
  }

  /** The distributed star rounds over `input`'s edges, which may hold
    * duplicates: the first round's output is distinct.
    */
  private def starRounds(input: DataFrame, maxRounds: Int,
      driverBudget: Long): (DataFrame, Boolean) = {
    // Materialization and the convergence count are ONE job per round
    // (the count is taken from the checkpoint job itself via the
    // bridge). At model-scale edge sets the per-round cost IS
    // scheduled-job overhead, so the loop is down to 1 job/round + the
    // except test only on a count match, and the driver finish cuts
    // the rounds themselves.
    var (edges, edgeCount, edgeRdd) = Bridge.localCheckpointWithCount(input)
    var round = 0
    var converged = false
    while (!converged && edgeCount > driverBudget && round < maxRounds) {
      // NOTE: one star round per materialization is the measured
      // optimum — both star ops reference their input DataFrame
      // multiple times (or/mins), so fusing two lazy rounds recomputes
      // the inner round once per outer reference (measured at sf0.1:
      // 2.8 s → 4.9 s).
      val (next, nextCount, nextRdd) =
        Bridge.localCheckpointWithCount(smallStar(largeStar(edges)))
      // Star rounds are monotone (labels only decrease), so
      // next ⊆-equality with the previous round IS the fixpoint test:
      // same count and nothing new ⇒ identical sets. That holds after
      // the first round too, whose input may repeat edges: its count is
      // at least the size of its set.
      converged = nextCount == edgeCount &&
        next.except(edges).limit(1).count() == 0
      edgeRdd.unpersist(blocking = false)
      edges = next
      edgeCount = nextCount
      edgeRdd = nextRdd
      round += 1
    }
    if (edgeCount <= driverBudget) {
      log.info(s"connectedComponents: driver finish over $edgeCount edges " +
        s"after $round star rounds")
      val rows = edgeRdd.collect()
      edgeRdd.unpersist(blocking = false)
      (finishOnDriver(edges, rows.toSeq), true)
    } else {
      // An unconverged edge list is not star-form: a node may still
      // carry multiple labels, which would FAN OUT a downstream left
      // join into duplicate rows per id. Warn loudly; [[componentLabels]]
      // aggregates min-per-id in that case.
      if (!converged)
        log.warn(s"connectedComponents did NOT converge within $maxRounds rounds; " +
          "labels may be non-minimal and non-unique per node")
      (edges, converged)
    }
  }

  /** The star edge list of driver-held edges: `(node, component
    * minimum)` per non-root node, as a local frame with the schema of
    * `edges` (see [[unionFind]]).
    */
  private def finishOnDriver(edges: DataFrame, rows: Seq[InternalRow]): DataFrame = {
    val idType = edges.schema.head.dataType
    val ends = rows.toArray.flatMap(r => Array(r.get(0, idType), r.get(1, idType)))
    val (ids, root) = unionFind(ends, TypeUtils.getInterpretedOrdering(idType))
    Bridge.localFrame(edges, ids.indices.collect {
      case i if root(i) != i => InternalRow(ids(i), ids(root(i)))
    })
  }

  /** Union-find over driver-held edges, the endpoints of edge k at
    * `ends(2k)` and `ends(2k + 1)`. Ids are sorted once with `ord`
    * (Catalyst's ordering for their type), so index order IS value
    * order: union keeps the smaller index as root, which makes every
    * root its component's minimum, and ids are looked up by binary
    * search, so every key compares by value (binary ids included,
    * which a hash map would key by array identity). Returns the
    * distinct ids in order and, per id, the index of its component's
    * minimum.
    */
  private def unionFind(ends: Array[AnyRef],
      ord: Ordering[Any]): (Array[AnyRef], Array[Int]) = {
    val sorted = ends.sorted(ord)
    val ids = sorted.indices
      .filter(i => i == 0 || ord.compare(sorted(i - 1), sorted(i)) != 0)
      .map(sorted).toArray
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    ends.grouped(2).foreach { case Array(a, b) =>
      val ra = find(java.util.Arrays.binarySearch(ids, a, ord))
      val rb = find(java.util.Arrays.binarySearch(ids, b, ord))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    (ids, Array.tabulate(ids.length)(find))
  }

  /** Full duplicate resolution: every id in `ids` labeled with its
    * cluster minimum and a deterministic keep flag (keep = the cluster
    * minimum itself). Ids appearing in no pair become singleton
    * clusters of themselves. Output: (idCol, cluster_id, keep).
    *
    * Shape: one left join of `ids` on [[componentLabels]]. After a
    * driver finish the labels are a local frame (at most
    * [[DriverFinishEdges]] rows), which the join can broadcast instead
    * of shuffling `ids`.
    */
  def resolveDuplicates(ids: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame =
    resolveDuplicates(ids, idCol, pairs, srcCol, dstCol, MaxRounds, DriverFinishEdges)

  /** [[resolveDuplicates]] with an explicit driver budget (see
    * [[connectedComponents]]).
    */
  private[graft] def resolveDuplicates(ids: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String, dstCol: String, maxRounds: Int, driverBudget: Long): DataFrame = {
    val labels = componentLabels(pairs, idCol, srcCol, dstCol, maxRounds, driverBudget)
    ids.select(col(idCol))
      .join(labels, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__cid"), col(idCol)).as("cluster_id"))
      .withColumn("keep", col(idCol) === col("cluster_id"))
  }

  /** Quality-aware duplicate resolution: like [[resolveDuplicates]],
    * but the keeper per cluster is the row MAXIMIZING `quality`
    * (ties → smallest id) rather than the min id — what a corpus prune
    * actually wants ("keep the best copy", e.g. longest text or
    * highest quality score), re-expressed as ONE struct-min aggregate
    * per cluster: `min(struct(−quality, id))` orders lexicographically,
    * so no window sort over the corpus is ever planned. Null quality
    * ranks WORST (never kept unless the whole cluster is null-quality,
    * then min id). `quality` is evaluated against `ids`, which must
    * carry every column it references. Output: (idCol, cluster_id,
    * keep). The keeper join keys both sides on cluster_id, the same
    * key the aggregate hash-partitioned on — the exchange is reused.
    */
  def resolveDuplicatesBy(ids: DataFrame, idCol: String, quality: Column,
      pairs: DataFrame, srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame = {
    val labels = componentLabels(pairs, idCol, srcCol, dstCol, MaxRounds,
      DriverFinishEdges)
    val labeled = ids
      .join(labels, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__cid"), col(idCol)).as("cluster_id"),
        // −quality so struct-min = max quality; nulls → −∞ quality
        // (+∞ after negation, i.e. sorts last, never preferred).
        negate(coalesce(quality.cast("double"), lit(Double.NegativeInfinity)))
          .as("__nq"))
    // Keeper side renames its key — it derives from `labeled`, and
    // qualifying by the parent frame would trip ambiguous-self-join
    // detection (same pattern as Dedup.exactDuplicates).
    val keepers = labeled.groupBy("cluster_id")
      .agg(min(struct(col("__nq"), col(idCol).as("__kid"))).as("__best"))
      .select(col("cluster_id").as("__kcid"), col("__best.__kid").as("__keep_id"))
    labeled.join(keepers, col("cluster_id") === col("__kcid"))
      .select(col(idCol), col("cluster_id"),
        (col(idCol) === col("__keep_id")).as("keep"))
  }

  /** `(idCol, __cid)`: one component label per non-root node. A
    * star-form edge list (a driver finish or converged rounds) already
    * holds one label per node and is returned as is; only an
    * unconverged one (`maxRounds` ran out above the driver budget) is
    * reduced to its minimum label per id, so a join on these labels
    * cannot fan out duplicate id rows.
    */
  private def componentLabels(pairs: DataFrame, idCol: String, srcCol: String,
      dstCol: String, maxRounds: Int, driverBudget: Long): DataFrame = {
    val (edges, star) = connectedComponents(pairs, srcCol, dstCol, maxRounds, driverBudget)
    val labels = edges.select(col("src").as(idCol), col("dst").as("__cid"))
    if (star) labels else labels.groupBy(idCol).agg(min("__cid").as("__cid"))
  }

  /** RAND INDEX between two clusterings of the same ids — the
    * agreement metric for validating one dedup pass against another
    * (minhash-derived clusters vs simhash-derived, yesterday's run vs
    * today's): of all C(n,2) id pairs, the fraction on which the two
    * clusterings AGREE (both co-cluster, or both separate). Returns
    * one row `(n_ids, n_cells, pairs_both_same, pairs_both_diff,
    * rand_ppm)`.
    *
    * Closed-form pair counting — no pair table ever materializes
    * (C(n,2) at corpus scale is the thing we're avoiding):
    * {{{
    *   S   = Σ_cells C(n_ij, 2)            (both co-cluster)
    *   D   = C(n,2) − Σ_i C(a_i,2) − Σ_j C(b_j,2) + S   (both separate)
    *   Rand = (S + D) / C(n,2)
    * }}}
    * with a_i/b_j the per-clustering cluster sizes and n_ij the
    * contingency cells. All BIGINT (products through decimal(38,0) ≡
    * HUGEINT — safe to ~10¹⁸ ids), final ppm by integral division —
    * engine-exact. Shape: one inner join on the id, one cell count,
    * two marginal aggs, a 1-row reduce.
    */
  def randIndex(a: DataFrame, idColA: String, clusterColA: String,
      b: DataFrame, idColB: String, clusterColB: String): DataFrame = {
    val dec = "decimal(38,0)"
    val j = a.select(col(idColA).as("__id"), col(clusterColA).as("__ca"))
      .join(b.select(col(idColB).as("__id"), col(clusterColB).as("__cb")), Seq("__id"))
    val cells = j.groupBy("__ca", "__cb").agg(count(lit(1)).as("__n"))
      .localCheckpoint(true) // feeds S, both marginals, and n
    def c2(x: Column): Column = (x.cast(dec) * (x - 1).cast(dec)) / lit(2).cast(dec)
    val s = cells.agg(sum(c2(col("__n"))).as("__s"),
      sum("__n").cast(dec).as("__tot"), count(lit(1)).as("n_cells"))
    val ma = cells.groupBy("__ca").agg(sum("__n").as("__an"))
      .agg(sum(c2(col("__an"))).as("__sa"))
    val mb = cells.groupBy("__cb").agg(sum("__n").as("__bn"))
      .agg(sum(c2(col("__bn"))).as("__sb"))
    s.crossJoin(ma).crossJoin(mb)
      .select(col("__tot").cast("long").as("n_ids"), col("n_cells"),
        col("__s").cast("long").as("pairs_both_same"),
        (c2(col("__tot")) - col("__sa") - col("__sb") + col("__s"))
          .cast("long").as("pairs_both_diff"),
        expr("""cast(((__s + ((__tot * (__tot - 1)) / 2 - __sa - __sb + __s))
                * 1000000) div greatest((__tot * (__tot - 1)) / 2, 1) as bigint)""")
          .as("rand_ppm"))
  }

  /** GOLDEN-RECORD construction (survivorship): per cluster, each
    * field independently takes the value of the member ranking highest
    * under that field's own rule — the master-data-management merge
    * that follows duplicate resolution: "name from the newest record,
    * address from the most complete one, id = the cluster label". A
    * whole-row keeper ([[resolveDuplicatesBy]]) can't express this —
    * survivorship is per FIELD.
    *
    * `labeled` carries `clusterCol` plus every referenced column;
    * `rules` maps each output field to its ordering column (higher
    * wins, ties to the lexicographically LARGER field value so the
    * argmax is total; NULL field values rank lowest — a null never
    * beats data, matching the resolveDuplicatesBy null-quality rule).
    * Output: one row per cluster, `(clusterCol, n_members,
    * <field> for each rule)`.
    *
    * Shape: ONE hash aggregate — every field's argmax is a
    * `max(struct(rank, field))` in the same groupBy, so the corpus is
    * scanned once and nothing windows. Mirror per field with
    * `max_by(field, rank)` only when ranks are unique; the general
    * tie-safe mirror is `max(struct)` ≡ `max((rank, field))` (DuckDB
    * composite max) — see q_golden's oracle.
    */
  def goldenRecord(labeled: DataFrame, clusterCol: String,
      rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "goldenRecord needs at least one field rule")
    val aggs = rules.map { case (field, rank) =>
      max(struct(
        // nulls-last: a present value always beats an absent one at
        // equal rank, and a null field sorts below every string/value
        when(col(field).isNull, lit(0)).otherwise(lit(1)).as("__has"),
        rank.as("__rk"), col(field).as("__v"))).getField("__v").as(field)
    }
    labeled.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_members"), aggs: _*)
  }

  /** Grid-density clustering (the grid/cell form of DBSCAN, cf.
    * GRIDCLUS / DenClue): quantize 2-D points to `cellMicro`-wide
    * cells, call a cell CORE when it holds ≥ `minPts` points, and
    * label core cells by connected components over 8-neighborhood
    * adjacency. Sparse cells are noise by construction — the density
    * threshold IS the cell filter, so no per-point neighborhood query
    * (the O(n²) part of point-DBSCAN) ever runs.
    *
    * Coordinates are floored to integer micro-units then shifted +10⁶
    * (embeddings live in [−1, 1]) so the truncating integer division
    * both engines share IS floor division. Cell ids pack as
    * `cell_x·10⁶ + cell_y` — unique while cellMicro ≥ 10.
    *
    * Scale shape: one (cell_x, cell_y) hash agg over the points —
    * map-side partial, GRID-sized output (bounded by the coordinate
    * extent, not the row count). A core grid of at most
    * [[DriverFinishEdges]] cells comes back in ONE bounded collect
    * (`Bridge.distinctRows`, one job past the aggregate's shuffle);
    * the driver finds the 8-neighbor edges by hash lookup on
    * (cell_x, cell_y), runs union-find and returns a local frame.
    * Above the budget — a fine grid over a large corpus — the core
    * grid is checkpointed from the same RDD the collect read, so the
    * point aggregate does not run again, and the 8-neighbor self-join
    * and the [[connectedComponents]] rounds run on the grid, never the
    * points. Output: (cell_x, cell_y, n_points, cluster_id) per core
    * cell, cluster_id = the component's minimum cell id (NULL for a
    * cell with a NULL coordinate, which has no neighbors).
    */
  def gridCluster(df: DataFrame, x: Column, y: Column, cellMicro: Long,
      minPts: Long): DataFrame =
    gridCluster(df, x, y, cellMicro, minPts, MaxRounds, DriverFinishEdges)

  /** [[gridCluster]] with an explicit driver budget: core cells for
    * the collect, edges for [[connectedComponents]]. A negative budget
    * keeps every step distributed.
    */
  private[graft] def gridCluster(df: DataFrame, x: Column, y: Column, cellMicro: Long,
      minPts: Long, maxRounds: Int, driverBudget: Long): DataFrame = {
    require(cellMicro >= 10, s"cellMicro must be >= 10, got $cellMicro")
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val cells = df.select(
        (floor(x.cast("double") * 1e6).cast("long") + 1000000L).as("__xm"),
        (floor(y.cast("double") * 1e6).cast("long") + 1000000L).as("__ym"))
      .select(expr(s"__xm div $cellMicro").as("cell_x"),
        expr(s"__ym div $cellMicro").as("cell_y"))
      .groupBy("cell_x", "cell_y").agg(count(lit(1)).as("n_points"))
    val core = cells.filter(col("n_points") >= minPts)
      .withColumn("cid", col("cell_x") * 1000000L + col("cell_y"))
    val small = if (driverBudget < 0) None
      else Bridge.distinctRows(core, math.min(driverBudget, Int.MaxValue.toLong).toInt)
    small match {
      case Some(rows) =>
        log.info(s"gridCluster: driver finish over ${rows.length} core cells")
        gridOnDriver(core, rows)
      case None =>
        // the core grid feeds the probe explode, the build side AND the
        // final label join; the checkpoint reads the RDD the collect
        // read, so the point aggregate's shuffle does not run again
        val (grid, _, _) = Bridge.localCheckpointWithCount(core)
        gridRounds(grid, maxRounds, driverBudget)
    }
  }

  /** [[gridCluster]]'s driver finish over the collected core grid
    * `(cell_x, cell_y, n_points, cid)`: the same edges, labels and
    * output the distributed path computes, as a local frame.
    */
  private def gridOnDriver(core: DataFrame, rows: Seq[InternalRow]): DataFrame = {
    // a cell with a NULL coordinate has a NULL cid and no neighbors
    val cids = rows.collect { case r if !r.isNullAt(0) && !r.isNullAt(1) =>
      (r.getLong(0), r.getLong(1)) -> r.getLong(3) }.toMap
    val edges = for {
      ((cx, cy), a) <- cids.toSeq
      dx <- -1L to 1L; dy <- -1L to 1L
      b <- cids.get((cx + dx, cy + dy)).toSeq if a < b
    } yield (a, b)
    val ends = edges.toArray.flatMap { case (a, b) => Array[AnyRef](Long.box(a), Long.box(b)) }
    val (ids, root) = unionFind(ends, TypeUtils.getInterpretedOrdering(LongType))
    val label = ids.indices.map(i => ids(i) -> ids(root(i))).toMap
    Bridge.localFrame(
      core.select(col("cell_x"), col("cell_y"), col("n_points"), col("cid").as("cluster_id")),
      rows.map { r =>
        val Seq(cx, cy, n, cid) = (0 to 3).map(r.get(_, LongType))
        InternalRow(cx, cy, n, label.getOrElse(cid, cid))
      })
  }

  /** [[gridCluster]] above the driver budget: the 8-neighbor self-join
    * and [[connectedComponents]] over the checkpointed core grid.
    */
  private def gridRounds(core: DataFrame, maxRounds: Int, driverBudget: Long): DataFrame = {
    val offsets = for { dx <- -1L to 1L; dy <- -1L to 1L if (dx, dy) != ((0L, 0L)) }
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
    val probe = core.select(col("cid").as("id_a"),
        explode(array(offsets: _*)).as("__o"),
        col("cell_x"), col("cell_y"))
      .select(col("id_a"), (col("cell_x") + col("__o.dx")).as("cell_x"),
        (col("cell_y") + col("__o.dy")).as("cell_y"))
    val edges = probe.join(core.select(col("cell_x"), col("cell_y"),
        col("cid").as("id_b")), Seq("cell_x", "cell_y"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // one left join labels every core cell; a cell in no edge is its
    // own cluster. The label table derives from `core` itself — its key
    // is renamed so the join is unambiguous.
    val labels = componentLabels(edges, "__lcid", "id_a", "id_b", maxRounds, driverBudget)
    core.join(labels, col("cid") === col("__lcid"), "left")
      .select(col("cell_x"), col("cell_y"), col("n_points"),
        coalesce(col("__cid"), col("cid")).as("cluster_id"))
  }
}
