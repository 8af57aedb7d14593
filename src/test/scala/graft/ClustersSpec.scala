package graft

import graft.ops.Clusters
import org.apache.spark.sql.graftbridge.Bridge

/** Duplicate-cluster resolution specs: transitive closure over
  * candidate pairs, deterministic min-id canonical choice, singleton
  * handling.
  */
class ClustersSpec extends SparkSpec {
  import spark.implicits._

  test("resolveDuplicates: planted A~B, B~C chain (A≁C) is ONE cluster") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Clusters.resolveDuplicates(ids, "doc_id", pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep")))
      .toSet
    assert(got == Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), // one cluster, min kept
      (4L, 4L, true), (5L, 5L, true)))                  // singletons keep themselves
  }

  test("connectedComponents: long path + separate pair need multiple star rounds") {
    val ids = (1L to 10L).toDF("doc_id")
    // path 10-9-8-7-6 (diameter 4) plus the pair 1-2, edges deliberately
    // given large-id-first and duplicated to check canonicalization.
    val pairs = Seq((10L, 9L), (9L, 8L), (8L, 7L), (7L, 6L), (6L, 7L), (1L, 2L))
      .toDF("id_a", "id_b")
    val labels = Clusters.resolveDuplicates(ids, "doc_id", pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert((6L to 10L).forall(labels(_) == 6L))
    assert(labels(1L) == 1L && labels(2L) == 1L)
    assert((3L to 5L).forall(i => labels(i) == i))
    // exactly one keeper per cluster:
    val keepers = Clusters.resolveDuplicates(ids, "doc_id", pairs)
      .filter(org.apache.spark.sql.functions.col("keep")).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(keepers == Set(1L, 3L, 4L, 5L, 6L))
  }

  test("resolveDuplicates: unconverged labels still yield ONE row per id") {
    val ids = Seq(1L, 2L, 3L).toDF("doc_id")
    // maxRounds = 0 on the star-round path (driver budget -1, so the
    // driver finish cannot converge it) leaves the raw (multi-label)
    // edge list: node 1 carries labels 2 AND 3. The defensive
    // min-per-id aggregate must keep the join from fanning out
    // duplicate id rows.
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val got = Clusters.resolveDuplicates(ids, "doc_id", pairs, "id_a", "id_b",
      maxRounds = 0, driverBudget = -1L).collect()
    assert(got.map(_.getAs[Long]("doc_id")).toSeq.sorted == Seq(1L, 2L, 3L))
  }

  /** The star edge list as a set of `(src, dst)`, binary ids as byte
    * sequences so they compare by value. Budget -1 keeps every round
    * distributed; `Long.MaxValue` finishes on the driver before any
    * star round; a small positive budget overflows the driver collect
    * mid-task, runs star rounds and finishes on the driver once they
    * shrink the edges to the budget.
    */
  private def starEdges(pairs: org.apache.spark.sql.DataFrame,
      driverBudget: Long): Set[(Any, Any)] = {
    def value(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case other => other
    }
    Clusters.connectedComponents(pairs, pairs.columns(0), pairs.columns(1),
        maxRounds = 200, driverBudget = driverBudget)._1
      .collect().map(r => (value(r.get(0)), value(r.get(1)))).toSet
  }

  test("connectedComponents: driver finish equals the star-round fixpoint") {
    val random = for (seed <- Seq(1, 2, 3)) yield {
      val rnd = new scala.util.Random(seed)
      // 150 ids, 120 edges: many small components, self-loops and
      // duplicate/reversed edges occur by chance
      Seq.fill(120)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
    }
    // a path of length 80 given large-id-first, which needs many rounds
    val path = (1L to 80L).map(i => (i + 1, i))
    // duplicate and reversed edges plus self-loops, explicitly
    val messy = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (3L, 4L), (4L, 3L),
      (4L, 4L), (9L, 3L), (7L, 7L))
    for ((g, i) <- (random :+ path :+ messy).zipWithIndex) {
      val longs = g.toDF("a", "b")
      // unpadded strings: "n10" < "n9", so the component minimum must
      // follow string order, not numeric order
      val strings = g.map { case (a, b) => (s"n$a", s"n$b") }.toDF("a", "b")
      for ((df, kind) <- Seq(longs -> "Long", strings -> "String")) {
        val rounds = starEdges(df, driverBudget = -1L)
        val driver = starEdges(df, driverBudget = Long.MaxValue)
        val fallback = starEdges(df, driverBudget = 5L)
        assert(rounds.nonEmpty, s"graph $i ($kind): no edges")
        assert(driver == rounds, s"graph $i ($kind): driver finish diverged")
        assert(fallback == rounds, s"graph $i ($kind): over-budget fallback diverged")
        // star form: one label per non-root node
        assert(driver.map(_._1).size == driver.size, s"graph $i ($kind): not a star")
      }
    }
    // binary ids compare by value on the driver, not by array identity
    val bytes = (path ++ messy).map { case (a, b) =>
      (BigInt(a).toByteArray, BigInt(b).toByteArray) }.toDF("a", "b")
    val rounds = starEdges(bytes, -1L)
    assert(starEdges(bytes, Long.MaxValue) == rounds)
    assert(starEdges(bytes, 5L) == rounds)
  }

  test("connectedComponents: any budget at or above the Int bound finishes on the driver") {
    val path = (1L to 80L).map(i => (i + 1, i)).toDF("a", "b")
    for (budget <- Seq(Long.MaxValue, Int.MaxValue.toLong + 1, Int.MaxValue.toLong)) {
      var out: org.apache.spark.sql.DataFrame = null
      val (jobs, sites) = countJobs {
        out = Clusters.connectedComponents(path, "a", "b", maxRounds = 200, driverBudget = budget)._1
      }
      // one bounded collect, no checkpoint, no star round
      assert(jobs == 1, s"budget $budget: $jobs jobs: ${sites.mkString(", ")}")
      assert(out.queryExecution.logical
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation], s"budget $budget")
      assert(out.count() == 80)
    }
  }

  test("connectedComponents: an over-budget driver collect re-runs no input shuffle") {
    import org.apache.spark.sql.functions.col
    // 1,000 distinct edges behind one hash-partitioning shuffle
    val pairs = spark.range(1000).select((col("id") % 500).as("a"),
        (col("id") * 7 % 499 + 1000).as("b"))
      .repartition(4, col("a"))
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
          shuffleStages.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    var edges: org.apache.spark.sql.DataFrame = null
    try {
      // budget 5 overflows the collect; maxRounds 0 stops after the
      // checkpoint, so every shuffle written is the input's own
      val (jobs, _) = countJobs {
        edges = Clusters.connectedComponents(pairs, "a", "b", maxRounds = 0, driverBudget = 5L)._1
      }
      assert(jobs == 3, "the input's shuffle, the collect and the checkpoint")
      assert(shuffleStages.get() == 1)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(edges.count() == 1000)
  }

  test("gridCluster: job count does not grow with the graph's diameter") {
    import org.apache.spark.sql.functions.col
    // a row of n core cells (4 points each) along x: a path graph of
    // diameter n - 1 under 8-neighborhood adjacency
    def chain(n: Int) = (0 until n).flatMap { c =>
      Seq.fill(4)(((c * 50000 + 25000) / 1e6 - 1.0, 0.025)) }.toDF("x", "y")
    def jobs(n: Int): Int = countJobs {
      val got = Clusters.gridCluster(chain(n), col("x"), col("y"),
        cellMicro = 50000L, minPts = 4L).collect()
      assert(got.length == n && got.map(_.getLong(3)).distinct.length == 1)
    }._1
    jobs(3) // warm-up
    assert(jobs(3) == jobs(40))
  }

  /** `gridCluster`'s rows, in a canonical order, and whether they came
    * from the driver finish (a local frame).
    */
  private def gridRows(pts: org.apache.spark.sql.DataFrame, minPts: Long,
      driverBudget: Long): (Seq[Seq[Any]], Boolean) = {
    import org.apache.spark.sql.functions.col
    val out = Clusters.gridCluster(pts, col("x"), col("y"), cellMicro = 50000L,
      minPts = minPts, maxRounds = 200, driverBudget = driverBudget)
    val local = out.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    (out.collect().map(_.toSeq).toSeq.sortBy(_.mkString(",")), local)
  }

  test("gridCluster: the driver finish equals the distributed path") {
    // cell c spans [c·0.05 − 1, (c+1)·0.05 − 1); `at(c)` is its center
    def at(c: Int): Double = (c * 50000 + 25000) / 1e6 - 1.0
    val blob = Seq.fill(4)((0.011, 0.011)) ++ Seq.fill(4)((0.061, 0.011)) ++
      Seq.fill(4)((0.51, 0.51)) ++ Seq.fill(2)((-0.29, -0.29))
    // cells touch only at corners: one component through diagonals
    val diagonal = (0 until 12).flatMap(c => Seq.fill(4)((at(c), at(c))))
    val random = for (seed <- Seq(1, 2)) yield {
      val rnd = new scala.util.Random(seed)
      Seq.fill(300)((rnd.nextDouble() * 0.6 - 0.3, rnd.nextDouble() * 0.6 - 0.3))
    }
    val fixtures: Seq[(String, org.apache.spark.sql.DataFrame, Long)] =
      Seq(("blob", blob.toDF("x", "y"), 4L),
        ("diagonal", diagonal.toDF("x", "y"), 4L),
        ("random 1", random(0).toDF("x", "y"), 3L),
        ("random 2", random(1).toDF("x", "y"), 2L),
        ("minPts 1", random(0).toDF("x", "y"), 1L),
        // a NULL coordinate makes a core cell with a NULL cell id
        ("nulls", (blob.map { case (x, y) => (Option(x), Option(y)) } ++
          Seq.fill(4)((Option.empty[Double], Option(0.011))) ++
          Seq.fill(4)((Option.empty[Double], Option.empty[Double])))
          .toDF("x", "y"), 4L))
    for ((name, pts, minPts) <- fixtures) {
      val (driver, local) = gridRows(pts, minPts, Clusters.DriverFinishEdges)
      val (rounds, roundsLocal) = gridRows(pts, minPts, -1L)
      val (fallback, fallbackLocal) = gridRows(pts, minPts, 2L)
      assert(local && !roundsLocal && !fallbackLocal, name)
      assert(driver.size > 2, s"$name: ${driver.size} core cells")
      assert(driver == rounds, s"$name: driver finish diverged")
      assert(fallback == rounds, s"$name: over-budget fallback diverged")
      if (name == "diagonal") assert(driver.map(_(3)).distinct.size == 1)
      if (name == "nulls") assert(driver.count(_(3) == null) == 2)
    }
  }

  test("gridCluster: an over-budget collect re-runs no point aggregate") {
    // the points come from a named RDD, so the stages that compute them
    // are the point aggregate's shuffle-map stages
    val rnd = new scala.util.Random(7)
    val pts = spark.sparkContext
      .parallelize(Seq.fill(400)((rnd.nextDouble() * 0.6 - 0.3, rnd.nextDouble() * 0.6 - 0.3)), 4)
      .setName("grid-points").toDF("x", "y")
    val aggStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "grid-points")) aggStages.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val rows = try {
      // budget 2 overflows the core-grid collect; the checkpoint, the
      // rounds and the final action read the grid, not the points
      val (got, local) = gridRows(pts, 3L, 2L)
      Bridge.waitForListeners(spark.sparkContext)
      assert(!local)
      assert(aggStages.get() == 1)
      got
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(rows.size > 2 && rows == gridRows(pts, 3L, Clusters.DriverFinishEdges)._1)
  }

  test("gridCluster: q_grid_cluster at sf0.01 stays within its job budget") {
    // The benchmark's ops_jobs input, read through the registry as the
    // benchmark reads it: construction plus one action over the result.
    val dir = "perfbench/data/sf0.01"
    def run(): Long = SparkEntry.queries("q_grid_cluster")(spark, dir).collect().length.toLong
    val rows = run() // warm-up: infers the table's schema once
    assert(rows > 0)
    // Measured 2 jobs (4 under the benchmark's one-row digest action):
    // the point aggregate's shuffle and one bounded collect of the core
    // grid, which the driver clusters into a local frame the action
    // reads without a job.
    val (jobs, sites) = countJobs(assert(run() == rows))
    assert(jobs <= 2, s"$jobs jobs: ${sites.mkString(", ")}")
  }

  test("connectedComponents: empty pair list → all singletons") {
    val ids = Seq(7L, 8L).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = Clusters.resolveDuplicates(ids, "doc_id", pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep")))
      .toSet
    assert(got == Set((7L, 7L, true), (8L, 8L, true)))
  }

  test("resolveDuplicatesBy: keeps max quality, ties break to min id, null ranks worst") {
    import org.apache.spark.sql.functions.col
    // cluster {1,2,3}: q = 5, 9, 9 → id 2 wins the tie at q=9;
    // cluster {4,5}: q = null, 1 → 5 wins (null never preferred);
    // singleton 6 keeps itself even with null quality.
    val ids = Seq(
      (1L, Option(5.0)), (2L, Option(9.0)), (3L, Option(9.0)),
      (4L, Option.empty[Double]), (5L, Option(1.0)), (6L, Option.empty[Double])
    ).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Clusters.resolveDuplicatesBy(ids, "doc_id", col("q"), pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep")))
      .toSet
    assert(got == Set(
      (1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (4L, 4L, false), (5L, 4L, true),
      (6L, 6L, true)))
  }

  /** Driver-side fold of the documented (personalized) PageRank update
    * rule over distinct edges, at scale 1e6 and damping 85/100 (all
    * divisions integral floor-div on non-negative operands — bit-exact,
    * no tolerance needed). No seeds means plain PageRank.
    */
  private def simulateRanks(edgeList: Seq[(Long, Long)], iters: Int,
      seeds: Seq[Long] = Nil): Map[Long, Long] = {
    val (scale, dampNum, dampDen) = (1000000L, 85L, 100L)
    val out = edgeList.groupBy(_._1).view.mapValues(_.size).toMap
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct
    val (n, k) = (nodes.size.toLong, seeds.size.toLong)
    val base = ((dampDen - dampNum) * scale) / dampDen
    val teleSeed = if (k == 0) 0L else (((dampDen - dampNum) * n * scale) / k) / dampDen
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(out.contains).map(rank).sum
      val inbound = edgeList.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / out(s) }.sum).toMap
      rank = nodes.map { nd =>
        val in = inbound.getOrElse(nd, 0L)
        nd -> (if (k == 0) base + (dampNum * (in + dang / n)) / dampDen
          else if (seeds.contains(nd)) (dampNum * (in + dang / k)) / dampDen + teleSeed
          else (dampNum * in) / dampDen)
      }.toMap
    }
    rank
  }

  test("pageRankExact: matches an independent scalar integer iteration") {
    // A toy graph with a dangling node (5)
    val edgeList = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L), (3L, 5L))
    val iters = 5
    val rank = simulateRanks(edgeList, iters)
    val got = graft.ops.Graphs.pageRankExact(edgeList.toDF("src", "dst"), iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == rank)
    // duplicate edges collapse by default
    val dup = graft.ops.Graphs.pageRankExact((edgeList ++ edgeList).toDF("src", "dst"),
        iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dup == rank)
  }

  test("pageRankExact: random graphs match the scalar simulation bit-exactly") {
    // Beyond the single golden: seeded random digraphs with dangling
    // nodes, self-loop-free, duplicate edges possible. The distributed
    // integer iteration must equal the driver-side fold EXACTLY (no
    // tolerance) — any divergence in div order, dangling handling, or
    // dedup shows up as a hard mismatch.
    val iters = 4
    for (seed <- Seq(3, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val edgeList = (for (_ <- 1 to 90) yield {
        val a = rnd.nextInt(30).toLong; val b = rnd.nextInt(30).toLong
        if (a == b) None else Some((a, b))
      }).flatten.distinct
      val got = graft.ops.Graphs.pageRankExact(edgeList.toDF("src", "dst"), iterations = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == simulateRanks(edgeList, iters), s"seed $seed diverged")
    }
  }

  test("personalizedPageRankExact: matches a scalar simulation; mass flows to seeds") {
    val edgeList = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L), (3L, 5L))
    val seeds = Seq(1L, 4L)
    val iters = 5
    val rank = simulateRanks(edgeList, iters, seeds)
    val got = graft.ops.Graphs.personalizedPageRankExact(
        edgeList.toDF("src", "dst"), seeds.toDF("id"), iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == rank)
    // teleport mass concentrates at seeds: both seeds outrank every
    // non-seed that isn't the graph's sink hub (node 3)
    assert(got(1L) > got(2L) && got(1L) > got(5L) && got(4L) > got(2L))
    // seeds absent from the graph are ignored; all-absent seeds refuse
    val gotExtra = graft.ops.Graphs.personalizedPageRankExact(
        edgeList.toDF("src", "dst"), (seeds :+ 99L).toDF("id"), iterations = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotExtra == rank)
    intercept[IllegalArgumentException] {
      graft.ops.Graphs.personalizedPageRankExact(
        edgeList.toDF("src", "dst"), Seq(99L).toDF("id"), iterations = 1).collect()
    }
  }

  test("triangleCount: exact on known graphs, orientation/duplicates/direction invariant") {
    // K4 has C(4,3) = 4 triangles; plus a pendant edge (no new
    // triangle) and one extra triangle sharing an edge with K4.
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = (k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L))).toDF("u", "v")
    def count(df: org.apache.spark.sql.DataFrame): Long =
      graft.ops.Graphs.triangleCount(df).head.getLong(0)
    assert(count(edges) == 5L)
    // direction and duplicate edges must not change the count
    val messy = edges.select(edges("v"), edges("u")).union(edges.toDF("v", "u")).union(edges)
    assert(count(messy) == 5L)
    // triangle-free (bipartite star) -> 0; self-loops ignored
    assert(count(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 2L)).toDF("u", "v")) == 0L)
    // brute-force parity on a random graph (50 nodes, p ~ 0.12)
    val rnd = new scala.util.Random(5)
    val rand = (for (i <- 1L to 50L; j <- (i + 1) to 50L if rnd.nextDouble() < 0.12)
      yield (i, j))
    val adj = rand.toSet
    val brute = (for {
      a <- 1L to 50L; b <- (a + 1) to 50L if adj((a, b))
      c <- (b + 1) to 50L if adj((b, c)) && adj((a, c))
    } yield 1).size.toLong
    assert(count(rand.toDF("u", "v")) == brute && brute > 0)
  }

  test("pageRank rounds: single action per round, no per-round driver sync") {
    // Round-structure regression for the round-5 verdict finding: a
    // separate danglingMass `.head` per round both blocked the driver
    // and forced a second evaluation of the ranks⋈outDeg join. The
    // fixed shape has exactly ONE action per round (the round's
    // localCheckpoint); AQE then splits that action into one job per
    // materialized stage, which is fine — what must NOT appear is any
    // `head`/`collect` callsite from Graphs, and the per-round job
    // count must stay bounded by the round's fixed stage structure.
    val edges = (1L to 200L).map(i => (i % 20, i % 13)).toDF("src", "dst")
    def run(iters: Int): (Int, Seq[String]) =
      countJobs(graft.ops.Graphs.pageRankExact(edges, iterations = iters).count())
    val (jobs2, sites2) = run(2)
    val (jobs4, sites4) = run(4)
    val badSites = (sites2 ++ sites4).filter(s =>
      (s.startsWith("head") || s.startsWith("collect")) && s.contains("Graphs"))
    assert(badSites.isEmpty, s"per-round driver action reappeared: $badSites")
    // With periodic checkpointing (every 8 rounds) these 2- and
    // 4-iteration runs are fully lazy: the marginal cost of 2 extra
    // rounds is their AQE stage-jobs only (measured ~4/round; the
    // pre-fix per-round-action shape measured 12+). Bound 10 keeps
    // headroom for AQE planning variation while still failing on a
    // structural regression.
    val perRound = (jobs4 - jobs2) / 2.0
    assert(perRound <= 10.0, s"PageRank round stage structure grew: $perRound jobs/round")
  }

  test("labelPropagation: recovers planted cliques, bridge node joins the min-label side") {
    import spark.implicits._
    // two 4-cliques {1..4} and {10..13}, plus node 20 bridged to both
    // cliques by ONE edge each — its neighbor labels tie 1 vs 1, so
    // the min label (the {1..4} community) must win deterministically.
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((4L, 20L), (10L, 20L))).toDF("src", "dst")
    val got = graft.ops.Graphs.labelPropagation(edges, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).map(got).distinct.size == 1, s"clique A split: $got")
    assert(Seq(10L, 11L, 12L, 13L).map(got).distinct.size == 1, s"clique B split: $got")
    assert(got(1L) != got(10L), "distinct cliques merged")
    assert(got(20L) == got(1L), "tied bridge node must take the smaller label")
  }

  test("labelPropagation: deterministic under repartition and edge direction") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (7L, 5L)).toDF("src", "dst")
    val a = graft.ops.Graphs.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val b = graft.ops.Graphs.labelPropagation(
        edges.select(edges("dst").as("src"), edges("src").as("dst")).repartition(7), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(a == b)
  }

  test("kCore: cascading peel, fixpoint idempotence, direction invariance") {
    import spark.implicits._
    // K4 on {1,2,3,4} (a 3-core) + a triangle-ish tail 4-5, 5-6, 5-7,
    // 6-7: node 5 starts at degree 3 and only falls below k AFTER
    // round 1 peels 6 and 7 — a genuine two-round cascade.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L))).toDF("src", "dst")
    val got = graft.ops.Graphs.kCore(edges, k = 3, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
    // fixpoint: one extra round changes nothing (the oracle's fixed
    // unroll relies on idempotence past convergence)
    val more = graft.ops.Graphs.kCore(edges, k = 3, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more == got)
    // undirected: reversing every edge yields the same core
    val rev = graft.ops.Graphs.kCore(
        edges.select(edges("dst").as("src"), edges("src").as("dst")), k = 3, rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rev == got)
    // k above the max degree empties the graph
    assert(graft.ops.Graphs.kCore(edges, k = 7, rounds = 5).count() == 0L)
    // the 12-node path's 2-core is empty, but peeling takes one end
    // node per round: 2 rounds leave a remnant, 16 reach the fixpoint
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(graft.ops.Graphs.kCore(path, k = 2, rounds = 2).count() > 0L)
    assert(graft.ops.Graphs.kCore(path, k = 2, rounds = 16).count() == 0L)
  }

  /** Driver-side fold of hitsExact's documented update rule in BigInt
    * (non-negative, so BigInt `/` == floor-div == Spark `div`).
    */
  private def simulateHits(edgeList: Seq[(Long, Long)], rounds: Int,
      scale: Long = 1000000L): Map[Long, (Long, Long)] = {
    val edges = edgeList.distinct
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val target = BigInt(nodes.size) * scale
    var hub = nodes.map(_ -> BigInt(scale)).toMap
    var auth = hub
    for (_ <- 1 to rounds) {
      val aRaw = nodes.map(nd =>
        nd -> edges.filter(_._2 == nd).map(e => hub(e._1)).sum).toMap
      val totA = aRaw.values.sum.max(1)
      auth = nodes.map(nd => nd -> aRaw(nd) * target / totA).toMap
      val hRaw = nodes.map(nd =>
        nd -> edges.filter(_._1 == nd).map(e => auth(e._2)).sum).toMap
      val totH = hRaw.values.sum.max(1)
      hub = nodes.map(nd => nd -> hRaw(nd) * target / totH).toMap
    }
    nodes.map(nd => nd -> ((auth(nd).toLong, hub(nd).toLong))).toMap
  }

  test("hitsExact: bipartite golden — matches the scalar fold; pure roles score zero") {
    // 2 hubs, 3 sinks; hub 1 covers {10,11}, hub 2 covers {11,12}.
    val edgeList = Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L))
    val exp = simulateHits(edgeList, rounds = 3)
    val got = graft.ops.Graphs.hitsExact(edgeList.toDF("src", "dst"), rounds = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == exp)
    // pure sources have auth 0; pure sinks have hub 0
    assert(got(1L)._1 == 0L && got(2L)._1 == 0L)
    assert(Seq(10L, 11L, 12L).forall(got(_)._2 == 0L))
    // the shared authority (11) outranks the exclusive ones
    assert(got(11L)._1 > got(10L)._1 && got(11L)._1 > got(12L)._1)
    // L1 normalization: auth mass sums to ~N·scale (within truncation)
    val totAuth = got.values.map(_._1).sum
    assert(totAuth <= 5000000L && totAuth > 5000000L - 10L)
  }

  test("hitsExact: random digraphs match the scalar fold bit-exactly") {
    for (seed <- Seq(5, 11, 23)) {
      val rnd = new scala.util.Random(seed)
      val edgeList = (for (_ <- 1 to 80) yield {
        val a = rnd.nextInt(25).toLong; val b = rnd.nextInt(25).toLong
        if (a == b) None else Some((a, b))
      }).flatten.distinct
      val exp = simulateHits(edgeList, rounds = 4)
      val got = graft.ops.Graphs.hitsExact(edgeList.toDF("src", "dst"), rounds = 4)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == exp, s"seed $seed diverged")
    }
  }

  test("hitsExact: zero-mass round yields zeros, not a divide-by-zero") {
    // One edge into a sink: after round 1 all hub mass sits on node 1
    // whose ONLY out-edge points at 2; auth collapses onto 2, hub onto
    // 1 — rounds stay well-defined. Then a pathological graph where a
    // round's total is zero: 1→2 plus 3→1 with 2 having no out-edges…
    // the max(·,1) guard keeps every round total-safe; the scalar fold
    // (same guard) must agree exactly either way.
    val edgeList = Seq((1L, 2L), (3L, 1L))
    val exp = simulateHits(edgeList, rounds = 5)
    val got = graft.ops.Graphs.hitsExact(edgeList.toDF("src", "dst"), rounds = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == exp)
  }

  /** Driver-side fold of the fixed-round relaxations (BFS, shortest
    * paths, temporal BFS) from seed node 1 at 0: each round, every
    * reached `u` offers `v` the value `via(dist(u), w)` along edge
    * `(u, v, w)`; the min wins.
    */
  private def simulateRelax(edges: Seq[(Long, Long, Long)], rounds: Int)(
      via: (Long, Long) => Option[Long]): Map[Long, Long] =
    (1 to rounds).foldLeft(Map(1L -> 0L)) { (d, _) =>
      val offers = for ((u, v, w) <- edges; du <- d.get(u); dv <- via(du, w)) yield v -> dv
      (d.toSeq ++ offers).groupMapReduce(_._1)(_._2)(math.min)
    }

  /** Driver-side synchronous label propagation: the most frequent
    * neighbor label wins, ties to the smallest.
    */
  private def simulateLpa(edgeList: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = (edgeList ++ edgeList.map(_.swap)).distinct.groupMap(_._1)(_._2)
    (1 to rounds).foldLeft(adj.keys.map(n => n -> n).toMap) { (lbl, _) =>
      adj.map { case (n, ns) =>
        n -> ns.groupBy(lbl).iterator.map { case (l, xs) => (-xs.size, l) }.min._2 }
    }
  }

  /** Driver-side BPE training: `(pair_a, pair_b, pair_count)` per merge. */
  private def simulateBpe(words: Seq[(String, Long)], merges: Int): Seq[(String, String, Long)] = {
    def merge(s: List[String], a: String, b: String): List[String] = s match {
      case x :: y :: rest if x == a && y == b => (a + b) :: merge(rest, a, b)
      case x :: rest => x :: merge(rest, a, b)
      case Nil => Nil
    }
    var segs = words.map { case (w, f) => (w.map(_.toString).toList, f) }
    (1 to merges).flatMap { _ =>
      val counts = segs.flatMap { case (s, f) => s.zip(s.tail).map(_ -> f) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      counts.minByOption { case ((a, b), c) => (-c, a, b) }.map { case ((a, b), c) =>
        segs = segs.map { case (s, f) => (merge(s, a, b), f) }
        (a, b, c)
      }
    }
  }

  test("fixed-round loops checkpoint on their cadence, never the last round") {
    import graft.ops.{Bpe, Graphs}
    def longs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rankEdges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L), (3L, 5L))
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val coreEdges = k4 ++ Seq((4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L))
    val hubs = Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L))
    // a 12-node path with weights and times: BFS, shortest paths and
    // temporal BFS still move at round 8
    val path = (1L to 11L).map(i => (i, i + 1, i % 3 + 1))
    val hops = path.map(e => (e._1, e._2))
    val timed = (1L to 11L).map(i => (i, i + 1, i / 2))
    val words = Seq("lower" -> 5L, "lowest" -> 2L, "newer" -> 6L, "wider" -> 3L,
      "banana" -> 4L, "bandana" -> 3L, "abracadabra" -> 2L)
    var got = Map.empty[String, Any]
    val (_, sites) = countJobs {
      got = Map(
        "pageRankExact" -> longs(Graphs.pageRankExact(rankEdges.toDF("src", "dst"), iterations = 9)),
        "personalizedPageRankExact" -> longs(Graphs.personalizedPageRankExact(
          rankEdges.toDF("src", "dst"), Seq(1L, 4L).toDF("id"), iterations = 9)),
        "kCore" -> longs(Graphs.kCore(coreEdges.toDF("src", "dst"), k = 3, rounds = 8)),
        "labelPropagation" -> longs(Graphs.labelPropagation(hops.toDF("src", "dst"), rounds = 8)),
        "bfsDistances" -> longs(Graphs.bfsDistances(hops.toDF("src", "dst"),
          Seq(1L).toDF("id"), rounds = 8)),
        "shortestPaths" -> longs(Graphs.shortestPaths(path.toDF("src", "dst", "w"),
          Seq(1L).toDF("id"), rounds = 8)),
        "temporalBfs" -> longs(Graphs.temporalBfs(timed.toDF("src", "dst", "t"),
          Seq(1L).toDF("id"), rounds = 8, startTime = 0L)),
        "hitsExact" -> Graphs.hitsExact(hubs.toDF("src", "dst"), rounds = 3).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap,
        "bpeTrain" -> Bpe.bpeTrain(words.toDF("word", "freq"), merges = 12)._1
          .orderBy("merge_no").collect()
          .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq)
    }
    // Rounds.run labels each checkpoint's jobs "<loop> round i/n"
    val Site = """(\w+) round (\d+)/\d+""".r
    val seen = sites.collect { case Site(loop, i) => loop -> i.toInt }
      .distinct.groupMap(_._1)(_._2).view.mapValues(_.sorted).toMap
    assert(seen == Map(
      "pageRankExact" -> Seq(8), "personalizedPageRankExact" -> Seq(8),
      "kCore" -> Seq(4), "labelPropagation" -> Seq(4), "bfsDistances" -> Seq(4),
      "shortestPaths" -> Seq(4), "temporalBfs" -> Seq(4),
      "hitsExact" -> Seq(1, 2), "bpeTrain" -> Seq(8)))
    val last = Map("pageRankExact" -> 9, "personalizedPageRankExact" -> 9, "hitsExact" -> 3,
      "bpeTrain" -> 12).withDefaultValue(8)
    assert(seen.forall { case (loop, rounds) => !rounds.contains(last(loop)) })
    assert(got == Map(
      "pageRankExact" -> simulateRanks(rankEdges, 9),
      "personalizedPageRankExact" -> simulateRanks(rankEdges, 9, seeds = Seq(1L, 4L)),
      "kCore" -> Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      "labelPropagation" -> simulateLpa(hops, 8),
      "bfsDistances" -> simulateRelax(path, 8)((d, _) => Some(d + 1)),
      "shortestPaths" -> simulateRelax(path, 8)((d, w) => Some(d + w)),
      "temporalBfs" -> simulateRelax(timed, 8)((d, t) => Option.when(t >= d)(t)),
      "hitsExact" -> simulateHits(hubs, rounds = 3),
      "bpeTrain" -> simulateBpe(words, 12)))
    assert(simulateBpe(words, 12).size == 12, "the corpus must not run out of pairs")
  }

  test("linkPredict: path graph predicts the closing pair, hub cap mutes hubs") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Graphs
    // path 1-2-3: only (1,3) shares a neighbor; deg(1)=deg(3)=1 → pa=1
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Graphs.linkPredict(path, maxDegree = 10, minCommon = 1L, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 3L, 1L, 1L, 1L)))
    // star 0-{1,2,3}: with the hub admitted, all 3 leaf pairs predicted
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val open = Graphs.linkPredict(star, maxDegree = 3, minCommon = 1L, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(open == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // hub cap below the star's degree → no wedge middles → no rows
    val capped = Graphs.linkPredict(star, maxDegree = 2, minCommon = 1L, k = 10)
    assert(capped.count() == 0L)
    // already-adjacent pairs are never predicted (anti join)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    assert(Graphs.linkPredict(tri, maxDegree = 10, minCommon = 1L, k = 10)
      .count() == 0L)
  }

  test("assortativity: star is perfectly disassortative; uniform degrees null") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Graphs
    // star 0-{1,2,3}: every stub pairs degree 3 with degree 1 → r = −1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val r = Graphs.assortativity(star, "a", "b").head()
    assert((r.getLong(0), r.getLong(1), r.getInt(2)) == (6L, 1000000L, -1))
    // two disjoint edges: all degrees equal → zero variance → NULL r²
    val flat = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val f = Graphs.assortativity(flat, "a", "b").head()
    assert(f.isNullAt(1) && f.isNullAt(2) && f.getLong(0) == 4L)
  }

  test("reciprocity: exact ppm share of mutual edges") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Graphs
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("s", "d")
    val r = Graphs.reciprocity(e, "s", "d").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (3L, 2L, 666666L))
    // self-loops and duplicates are dropped before the measure
    val messy = Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 1L)).toDF("s", "d")
    val m = Graphs.reciprocity(messy, "s", "d").head()
    assert((m.getLong(0), m.getLong(1), m.getLong(2)) == (2L, 2L, 1000000L))
  }

  test("gridCluster: adjacent core cells merge, sparse cells are noise") {
    import org.apache.spark.sql.functions.col
    // cellMicro=50000 after the +1e6 shift: 0.01→cell 20, 0.06→21,
    // 0.5→30, -0.3→14
    val pts = (Seq.fill(4)((0.011, 0.011)) ++ Seq.fill(4)((0.061, 0.011)) ++
      Seq.fill(4)((0.51, 0.51)) ++ Seq.fill(2)((-0.29, -0.29)))
      .toDF("x", "y")
    val got = Clusters.gridCluster(pts, col("x"), col("y"),
        cellMicro = 50000L, minPts = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // the 2-point cell never becomes core
    assert(got.size == 3)
    // blob cells (20,20) and (21,20) are 8-adjacent → one cluster
    // labeled by the smaller cell id
    assert(got((20L, 20L)) == (4L, 20L * 1000000L + 20L))
    assert(got((21L, 20L)) == (4L, 20L * 1000000L + 20L))
    // the far cell is its own singleton cluster
    assert(got((30L, 30L)) == (4L, 30L * 1000000L + 30L))
  }
}
