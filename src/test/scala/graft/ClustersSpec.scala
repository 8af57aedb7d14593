package graft

import graft.ops.Clusters

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

  test("gridCluster: q_grid_cluster at sf0.01 stays within its job budget") {
    // The benchmark's ops_jobs input, read through the registry as the
    // benchmark reads it: construction plus one action over the result.
    val dir = "perfbench/data/sf0.01"
    def run(): Long = SparkEntry.queries("q_grid_cluster")(spark, dir).collect().length.toLong
    val rows = run() // warm-up: infers the table's schema once
    assert(rows > 0)
    // Measured 5 jobs (6 under the benchmark's one-row digest action):
    // the point aggregate, the neighbor join's broadcast of the core
    // grid (which writes its checkpoint), one bounded collect of the
    // edges with a driver finish, and the final label join with its
    // broadcast of the local labels. It read 11 with a schema job per
    // scan, an eager core checkpoint, an edge `distinct` shuffle, an
    // edge checkpoint, its collect, and a min-per-id label aggregate
    // with a second join against the core.
    val (jobs, sites) = countJobs(assert(run() == rows))
    assert(jobs <= 7, s"$jobs jobs: ${sites.mkString(", ")}")
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

  test("pageRankExact: matches an independent scalar integer iteration") {
    // A toy graph with a dangling node (5); expected values from a
    // driver-side simulation of the documented update rule (all
    // divisions integral floor-div on non-negative operands — bit-exact,
    // no tolerance needed).
    val edgeList = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L), (3L, 5L))
    val (scale, dampNum, dampDen, iters) = (1000000L, 85L, 100L, 5)
    val out = edgeList.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size.toLong
    val base = ((dampDen - dampNum) * scale) / dampDen
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(out.contains).map(rank).sum
      val inbound = edgeList.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / out(s).size }.sum).toMap
      rank = nodes.map(nd =>
        nd -> (base + (dampNum * (inbound.getOrElse(nd, 0L) + dang / n)) / dampDen)).toMap
    }
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
    val (scale, dampNum, dampDen, iters) = (1000000L, 85L, 100L, 4)
    for (seed <- Seq(3, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val edgeList = (for (_ <- 1 to 90) yield {
        val a = rnd.nextInt(30).toLong; val b = rnd.nextInt(30).toLong
        if (a == b) None else Some((a, b))
      }).flatten.distinct
      val out = edgeList.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct
      val n = nodes.size.toLong
      val base = ((dampDen - dampNum) * scale) / dampDen
      var rank = nodes.map(_ -> scale).toMap
      for (_ <- 1 to iters) {
        val dang = nodes.filterNot(out.contains).map(rank).sum
        val inbound = edgeList.groupBy(_._2).view.mapValues(
          _.map { case (s, _) => rank(s) / out(s).size }.sum).toMap
        rank = nodes.map(nd =>
          nd -> (base + (dampNum * (inbound.getOrElse(nd, 0L) + dang / n)) / dampDen)).toMap
      }
      val got = graft.ops.Graphs.pageRankExact(edgeList.toDF("src", "dst"), iterations = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == rank, s"seed $seed diverged")
    }
  }

  test("personalizedPageRankExact: matches a scalar simulation; mass flows to seeds") {
    val edgeList = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L), (3L, 5L))
    val seeds = Seq(1L, 4L)
    val (scale, dampNum, dampDen, iters) = (1000000L, 85L, 100L, 5)
    val out = edgeList.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct
    val n = nodes.size.toLong
    val k = seeds.size.toLong
    val teleSeed = (((dampDen - dampNum) * n * scale) / k) / dampDen
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(out.contains).map(rank).sum
      val inbound = edgeList.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / out(s).size }.sum).toMap
      rank = nodes.map { nd =>
        val isSeed = seeds.contains(nd)
        nd -> ((dampNum * (inbound.getOrElse(nd, 0L) +
          (if (isSeed) dang / k else 0L))) / dampDen +
          (if (isSeed) teleSeed else 0L))
      }.toMap
    }
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
    // With periodic checkpointing (default every 5) these 2- and
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

  test("convergence telemetry: early-stop on a converged graph, identical result") {
    import graft.ops.Graphs
    // star graph: diameter 1 from the center — BFS converges at round 1,
    // a 10-round fixed unroll wastes 9. Telemetry (checkpoint every 2)
    // sees a zero-change span at round 4 and stops there.
    val star = (2L to 30L).map(c => (1L, c)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val logs = scala.collection.mutable.ArrayBuffer[String]()
    val conv = Graphs.Convergence(earlyStop = true, log = logs += _)
    val got = Graphs.bfsDistances(star, seeds, rounds = 10,
        checkpointEvery = 2, convergence = Some(conv))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Graphs.bfsDistances(star, seeds, rounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "early-stopped result diverged from the full unroll")
    assert(logs.exists(_.contains("converged by round")), s"no convergence line in: $logs")
    assert(logs.exists(_.contains("stopping early")), s"no early stop in: $logs")
    assert(!logs.exists(_.contains("NOT CONVERGED")), s"false warning in: $logs")
    // rounds 6..10 never ran: no change line mentions a round past 4
    assert(!logs.exists(_.contains("round 6/")), s"loop kept running: $logs")
  }

  test("convergence telemetry: loud warning on an under-iterated deep path") {
    import graft.ops.Graphs
    // path 1→2→…→12 has diameter 11; 3 rounds reach only node 4 — the
    // silent under-iteration the round-6 verdict flagged. With
    // telemetry the final span still moves and the warning fires.
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val logs = scala.collection.mutable.ArrayBuffer[String]()
    val conv = Graphs.Convergence(earlyStop = true, log = logs += _)
    val got = Graphs.bfsDistances(path, seeds, rounds = 3,
        checkpointEvery = 2, convergence = Some(conv))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 4L).map(i => i -> (i - 1)).toMap) // truncated reach, as documented
    assert(logs.exists(_.contains("NOT CONVERGED")), s"missing warning in: $logs")
    // same shape through kCore: a 12-path's 2-core is empty but peeling
    // cascades one node per round — 2 rounds under-peel and must warn
    val logs2 = scala.collection.mutable.ArrayBuffer[String]()
    val core = Graphs.kCore(path, k = 2, rounds = 2, checkpointEvery = 1,
      convergence = Some(Graphs.Convergence(log = logs2 += _)))
    assert(core.count() > 0) // under-peeled remnant — exactly the hazard
    assert(logs2.exists(_.contains("NOT CONVERGED")), s"missing kCore warning in: $logs2")
    // and with enough rounds the same telemetry reports convergence
    val logs3 = scala.collection.mutable.ArrayBuffer[String]()
    val core2 = Graphs.kCore(path, k = 2, rounds = 16, checkpointEvery = 2,
      convergence = Some(Graphs.Convergence(log = logs3 += _)))
    assert(core2.count() == 0)
    assert(logs3.exists(_.contains("converged by round")), s"no early stop in: $logs3")
    assert(!logs3.exists(_.contains("NOT CONVERGED")), s"false warning in: $logs3")
  }

  test("convergence telemetry disabled: bit-identical ranks, no telemetry jobs") {
    import graft.ops.Graphs
    val edges = (1L to 120L).map(i => (i % 17, i % 11)).toDF("src", "dst")
    val off = Graphs.pageRankExact(edges, iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val logs = scala.collection.mutable.ArrayBuffer[String]()
    val on = Graphs.pageRankExact(edges, iterations = 6,
        convergence = Some(Graphs.Convergence(earlyStop = false, log = logs += _)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(on == off, "telemetry changed the answer")
    assert(logs.nonEmpty)
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
