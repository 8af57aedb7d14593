package graft

import org.apache.spark.sql.functions._

import graft.linkage._

/** Specs for the linkage core: suffixing (P1), comparators (F2-F4),
  * blocking (J1/J2/P6/U1), pair assembly (J3), pattern counts (A1).
  */
class LinkageSpec extends SparkSpec {
  import spark.implicits._

  private lazy val people = Seq(
    (1L, "alice", "smith", "male", "AB1"),
    (2L, "alicia", "smith", "female", "AB1"),
    (3L, "bob", "jones", "male", "CD2"),
    (4L, "bob", "james", null, "CD2"),
    (5L, "carol", "smith", "other", null)
  ).toDF("id", "first_name", "surname", "gender", "postcode")

  test("Suffix: idempotent on names, columns, frames (utils.R:11-27 semantics)") {
    assert(Suffix.addSuffix("a", "_left") == "a_left")
    assert(Suffix.addSuffix("a_left", "_left") == "a_left")
    assert(Suffix.addSuffix(Seq("x", "y_right"), "_right") == Seq("x_right", "y_right"))
    val df = Suffix.addSuffix(people, "_left")
    assert(df.columns.toSeq == Seq("id_left", "first_name_left", "surname_left", "gender_left", "postcode_left"))
    assert(Suffix.addSuffix(df, "_left").columns.toSeq == df.columns.toSeq)
  }

  test("exact comparator: agree / disagree / NULL (comparators.R:18-23)") {
    val pairs = Seq(
      ("x", "x"), ("x", "y"), (null, "x"), ("x", null), (null, null)
    ).toDF("v_left", "v_right")
    val out = Comparators.doComparisons(pairs, Comparators.exact(Seq("v")))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("agree"), Some("disagree"), None, None, None))
  }

  test("jw comparator: level boundaries and NULL → no agreement (comparators.R:4-14)") {
    val pairs = Seq(
      ("martha", "martha"),   // 1.0       → full
      ("martha", "marhta"),   // 0.9611... → strong
      ("hello", "hallo"),     // 0.88      → weak
      ("crate", "trace"),     // 0.733     → none
      (null, "x"), ("x", null)
    ).toDF("v_left", "v_right")
    val out = Comparators.doComparisons(pairs, Comparators.jaroWinkler(Seq("v")))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("full agreement", "strong partial agreement",
      "weak partial agreement", "no agreement", "no agreement", "no agreement"))
  }

  test("NA-safe isin comparator matches R %in% semantics (F4 watch-out)") {
    // R: !gender %in% c('female','male') is TRUE for NA; SQL NOT IN is NULL.
    val comparator = Comparators.expression("gender_comparison",
      when(col("gender_left") === "male" && col("gender_right") === "male", "agree (male)")
        .when(col("gender_left") === "female" && col("gender_right") === "female", "agree (female)")
        .when(!coalesce(col("gender_left").isin("female", "male"), lit(false)) ||
              !coalesce(col("gender_right").isin("female", "male"), lit(false)), null)
        .otherwise("disagree"))
    val pairs = Seq(
      ("male", "male"), ("female", "female"), ("male", "female"),
      ("other", "male"), (null, "male"), (null, null)
    ).toDF("gender_left", "gender_right")
    val out = Comparators.doComparisons(pairs, Seq(comparator))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("agree (male)"), Some("agree (female)"), Some("disagree"),
      None, None, None))
  }

  test("blocking: union of passes deduplicates overlapping pairs (linking.R:36-37)") {
    // surname pass and postcode pass both produce (1,2): distinct keeps one.
    val rules = BlockingRules(Seq(EquiKeys("surname"), EquiKeys("postcode")))
    val ids = Blocking.extractBlocks(people, people, "id", "id", rules)
      .filter(col("id_left") < col("id_right"))
    val got = ids.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // surname: (1,2),(1,5),(2,5); postcode: (1,2),(3,4). NULL postcode (5) joins nothing.
    assert(got == Set((1L, 2L), (1L, 5L), (2L, 5L), (3L, 4L)))
  }

  test("blocking: hotKeySalts produces identical pairs to the unsalted join") {
    // The tiny-cardinality skew path (first-initial keys): salting must
    // spread work without changing the pair set — exercised across
    // multi-pass union+distinct, ComputedKeys, and selfLinkage canon.
    val rules = BlockingRules(Seq(
      EquiKeys("surname"),
      ComputedKeys(Seq(
        ("s1", substring(col("surname_left"), 1, 1), substring(col("surname_right"), 1, 1))))))
    def pairsOf(salts: Int) =
      Blocking.extractBlocks(people, people, "id", "id", rules,
          selfLinkage = true, hotKeySalts = salts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairsOf(0)
    assert(plain.nonEmpty)
    assert(pairsOf(7) == plain)
    assert(pairsOf(64) == plain) // more salts than rows: replication still exact
  }

  test("blocking: recommendSalts sizes the salt from measured key skew; recommended count preserves the pair set") {
    import spark.implicits._
    // 90%-one-key fixture: 180 of 200 rows share blocking key "hot",
    // the rest spread over 20 singleton keys — the straggler shape
    // where one join group holds ~99.9% of pair-generation work.
    val skewed = (1L to 200L).map(i =>
      (i, if (i <= 180) "hot" else s"cold_$i")).toDF("id", "k")
    val rec = Blocking.recommendSalts(
      skewed, col("k"), skewed, col("k"), targetParallelism = 32)
    // max work = 180² = 32400 of Σ = 32420 → ceil(32·0.9994) = 32.
    assert(rec == 32, s"dominant hot key should recommend the full task count, got $rec")

    val rules = BlockingRules(Seq(EquiKeys("k")))
    def pairsOf(salts: Int) =
      Blocking.extractBlocks(skewed, skewed, "id", "id", rules,
          selfLinkage = true, hotKeySalts = salts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairsOf(0)
    assert(plain.size == 180 * 179 / 2 + 0) // hot block pairs; singletons add none
    assert(pairsOf(rec) == plain)

    // Tiny-cardinality UNIFORM key (SURVEY §4's other failure shape):
    // 4 even groups of 50 → max/Σ = 1/4 → s = 32/4 = 8, giving
    // 4·8 = 32 work units.
    val uniform = (1L to 200L).map(i => (i, s"g${i % 4}")).toDF("id", "k")
    assert(Blocking.recommendSalts(
      uniform, col("k"), uniform, col("k"), targetParallelism = 32) == 8)

    // High-cardinality key that spreads fine: no salt recommended.
    val spread = (1L to 200L).map(i => (i, s"k$i")).toDF("id", "k")
    assert(Blocking.recommendSalts(
      spread, col("k"), spread, col("k"), targetParallelism = 32) == 0)

    // Disjoint key spaces: empty join forecast, no salt.
    val other = (1L to 10L).map(i => (i, s"z$i")).toDF("id", "k")
    assert(Blocking.recommendSalts(
      skewed, col("k"), other, col("k"), targetParallelism = 32) == 0)
  }

  test("blocking: recommendSalts fires on the LinkageDemo surname-initial pass and preserves its pair set") {
    // The REAL-pipeline counterpart of the synthetic fixtures above
    // (VERDICT r12 item 4): on the demo's persons fixture the
    // surname-initial key is naturally skewed (five of fourteen
    // dictionary surnames start with 'w'), so the forecast must come
    // out > 1 at the demo's parallelism — the salt path is then
    // exercised by a genuine pipeline pass, not only by rigged keys.
    val people = graft.LinkageDemo.persons(spark, nClusters = 120).drop("cluster").cache()
    val rec = Blocking.recommendSalts(
      people, substring(col("surname"), 1, 1),
      people, substring(col("surname"), 1, 1), targetParallelism = 4)
    assert(rec > 1, s"surname-initial skew should recommend salts > 1 at P=4, got $rec")

    val rules = BlockingRules(Seq(
      EquiKeys("surname"), EquiKeys("dob"),
      ComputedKeys(Seq(
        ("s1", substring(col("surname_left"), 1, 1), substring(col("surname_right"), 1, 1))))))
    def pairsOf(salts: Int) =
      Blocking.extractBlocks(people, people, "unique_id", "unique_id", rules,
          hotKeySalts = salts)
        .filter(col("unique_id_left") < col("unique_id_right"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairsOf(0)
    assert(plain.nonEmpty)
    assert(pairsOf(rec) == plain)
    people.unpersist()
  }

  test("blocking: salting refuses inputs that already carry the reserved __salt columns") {
    import spark.implicits._
    val clash = Seq((1L, "a", 0)).toDF("id", "k", "__salt_l")
    val ex = intercept[IllegalArgumentException] {
      Blocking.extractBlocks(clash, clash, "id", "id",
        BlockingRules(Seq(EquiKeys("k"))), hotKeySalts = 4)
    }
    assert(ex.getMessage.contains("__salt_l"))
    // Unsalted path is unaffected by the column.
    assert(Blocking.extractBlocks(clash, clash, "id", "id",
      BlockingRules(Seq(EquiKeys("k")))).count() == 1L)
  }

  /** Seeded random table with unique ids, a NULL-bearing low-cardinality
    * key, a NULL-bearing name and a numeric value — overlapping passes
    * over it share many pairs.
    */
  private def randomPeople(seed: Long, n: Int, idBase: Long) = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      (idBase + 3L * i,
        Option.when(r.nextInt(6) != 0)(r.nextInt(5)),
        Option.when(r.nextInt(8) != 0)(s"${"abc" (r.nextInt(3))}${r.nextInt(4)}"),
        r.nextInt(12).toDouble / 4)
    }.toDF("id", "k", "name", "v")
  }

  test("blocking: disjoint passes equal the union + distinct of the single passes") {
    val passes = Seq(
      // NULL on either k makes this condition NULL: a later pass must
      // still keep such pairs (NOT coalesce(cond, false)).
      Predicate(col("k_left") + 1 === col("k_right") || abs(col("v_left") - col("v_right")) < 0.3),
      EquiKeys("k"),
      ComputedKeys(Seq(("n1", substring(col("name_left"), 1, 1), substring(col("name_right"), 1, 1)))),
      EquiKeys(Map("k" -> "k", "name" -> "name")))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (seed <- Seq(1L, 2L); self <- Seq(false, true)) {
      val a = randomPeople(seed, 50, 1L)
      val b = if (self) a else randomPeople(seed + 100, 40, 1000L)
      // The union + distinct of the passes, each run on its own.
      val single = passes.map(p => Blocking.extractBlocks(a, b, "id", "id",
        BlockingRules(Seq(p)), selfLinkage = self))
      val reference = pairs(single.reduce(_ union _).distinct())
      assert(single.map(pairs(_).size).sum > reference.size, s"passes do not overlap at seed $seed")
      for (salts <- Seq(0, 7); order <- Seq(passes, passes.reverse)) {
        val got = pairs(Blocking.extractBlocks(a, b, "id", "id", BlockingRules(order),
          selfLinkage = self, hotKeySalts = salts))
        val what = s"seed $seed, self $self, salts $salts, ${BlockingRules(order)}"
        assert(got.size == got.toSet.size, s"duplicate pairs: $what")
        assert(got.toSet == reference.toSet, what)
      }
    }
  }

  test("blocking: a multi-pass extractBlocks has no Exchange above its Union") {
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    val a = randomPeople(3L, 30, 1L)
    val df = Blocking.extractBlocks(a, a, "id", "id", BlockingRules(Seq(
      EquiKeys("k"),
      ComputedKeys(Seq(("n1", substring(col("name_left"), 1, 1), substring(col("name_right"), 1, 1)))),
      Predicate(abs(col("v_left") - col("v_right")) < 0.3))), selfLinkage = true)
    assert(df.collect().nonEmpty)
    // The final adaptive plan, through its query stages (leaves to
    // TreeNode traversal): the path from the root to each Union.
    def unionPaths(p: SparkPlan, above: Seq[SparkPlan]): Seq[Seq[SparkPlan]] = p match {
      case ap: AdaptiveSparkPlanExec => unionPaths(ap.executedPlan, above)
      case qs: QueryStageExec => unionPaths(qs.plan, above :+ qs)
      case u: UnionExec => Seq(above)
      case other => other.children.flatMap(unionPaths(_, above :+ other))
    }
    val plan = df.queryExecution.executedPlan
    val paths = unionPaths(plan, Nil)
    assert(paths.size == 1, plan.toString)
    assert(!paths.head.exists(_.isInstanceOf[Exchange]), s"exchange above the union:\n$plan")
  }

  test("blocking: recommendSalts equals the joinSizeEstimate forecast, NULL and struct keys included") {
    // The salt formula over Profiling.joinSizeEstimate's join-based
    // forecast — the form recommendSalts used to run.
    def viaJoin(l: org.apache.spark.sql.DataFrame, lk: org.apache.spark.sql.Column,
        r: org.apache.spark.sql.DataFrame, rk: org.apache.spark.sql.Column): Int => Int = {
      val row = graft.ops.Profiling.joinSizeEstimate(l, lk, r, rk, "x").head()
      p =>
        if (row.isNullAt(row.fieldIndex("n_join_rows"))) 0
        else {
          val total = row.getAs[Long]("n_join_rows")
          val top = row.getAs[Long]("top_key_rows")
          if (total <= 0) 0
          else {
            val s = math.ceil(p.toDouble * top / total).toInt
            if (s <= 1) 0 else math.min(s, p)
          }
        }
    }
    val skewed = (1L to 200L).map(i => (i, if (i <= 180) "hot" else s"cold_$i")).toDF("id", "k")
    val uniform = (1L to 200L).map(i => (i, s"g${i % 4}")).toDF("id", "k")
    val spread = (1L to 200L).map(i => (i, s"k$i")).toDF("id", "k")
    val other = (1L to 10L).map(i => (i, s"z$i")).toDF("id", "k")
    // NULL keys: the 120 NULL rows must not count as one hot key.
    val nulls = (1L to 200L).map(i => (i, Option.when(i > 120)(s"n${i % 9}"))).toDF("id", "k")
    val demo = graft.LinkageDemo.persons(spark, nClusters = 120).drop("cluster")
    val rnd = randomPeople(5L, 200, 1L)
    val cases = Seq(
      (skewed, col("k"), skewed, col("k")),
      (uniform, col("k"), uniform, col("k")),
      (spread, col("k"), spread, col("k")),
      (skewed, col("k"), other, col("k")),
      (nulls, col("k"), nulls, col("k")),
      (nulls, col("k"), skewed, col("k")),
      (demo, substring(col("surname"), 1, 1), demo, substring(col("surname"), 1, 1)),
      // struct keys with NULL fields, the benchmark's key shape
      (rnd, struct(col("k"), floor(col("v")).as("b")), rnd, struct(col("k"), floor(col("v")).as("b"))),
      (rnd, struct(col("k"), col("name")), skewed, struct(lit(1).as("k"), col("k").as("name"))))
    for ((l, lk, r, rk) <- cases) {
      val expected = viaJoin(l, lk, r, rk)
      for (p <- Seq(4, 32))
        assert(Blocking.recommendSalts(l, lk, r, rk, targetParallelism = p) == expected(p),
          s"keys $lk / $rk at P=$p")
    }
    // 80 keyed rows over 9 keys (eight of 9 rows, one of 8): Σ = 712,
    // max = 81 → ceil(32·81/712) = 4; the NULL rows would have made it 31.
    assert(Blocking.recommendSalts(nulls, col("k"), nulls, col("k"), targetParallelism = 32) == 4)
  }

  test("blocking: estimatePairs equals the summed joinSizeEstimate forecast above its 2 MiB gate") {
    // Large enough (by the optimizer's size estimate) to pass the gate;
    // B's key columns have other names and types than A's, and both
    // sides carry NULL keys.
    val a = spark.range(300000).select(col("id"),
      when(col("id") % 13 =!= 0, col("id") % 500).as("k"),
      concat(lit("n"), (col("id") % 37).cast("string")).as("name"))
    val b = spark.range(200000).select(col("id"),
      when(col("id") % 7 =!= 0, (col("id") * 7 % 400).cast("int")).as("kb"),
      concat(lit("n"), (col("id") % 41).cast("string")).as("nameb"))
    def joinRows(l: org.apache.spark.sql.DataFrame, lk: org.apache.spark.sql.Column,
        r: org.apache.spark.sql.DataFrame, rk: org.apache.spark.sql.Column): Long = {
      val row = graft.ops.Profiling.joinSizeEstimate(l, lk, r, rk, "x").head()
      val i = row.fieldIndex("n_join_rows")
      if (row.isNullAt(i)) 0L else row.getLong(i)
    }
    val computed = ComputedKeys(Seq(("p",
      substring(col("name_left"), 1, 2), substring(col("nameb_right"), 1, 2))))
    val rules = BlockingRules(Seq(EquiKeys(Map("k" -> "kb")),
      EquiKeys(Map("k" -> "kb", "name" -> "nameb")), computed))
    // joinSizeEstimate matches a struct key with NULL fields, an
    // equi-join pass does not: those rows are filtered out first.
    val expected =
      joinRows(a, col("k"), b, col("kb")) +
        joinRows(a.filter(col("k").isNotNull), struct(col("k").as("x"), col("name").as("y")),
          b.filter(col("kb").isNotNull), struct(col("kb").as("x"), col("nameb").as("y"))) +
        joinRows(a, substring(col("name"), 1, 2), b, substring(col("nameb"), 1, 2))
    assert(expected > 0)
    assert(Blocking.estimatePairs(a, b, rules) == Some(expected))

    val selfRules = BlockingRules(Seq(EquiKeys("k", "name"),
      ComputedKeys(Seq(("p", substring(col("name_left"), 1, 2), substring(col("name_right"), 1, 2))))))
    val selfExpected =
      joinRows(a.filter(col("k").isNotNull), struct(col("k"), col("name")),
        a.filter(col("k").isNotNull), struct(col("k"), col("name"))) +
        joinRows(a, substring(col("name"), 1, 2), a, substring(col("name"), 1, 2))
    assert(Blocking.estimatePairs(a, a, selfRules, selfLinkage = true) == Some(selfExpected / 2))
  }

  test("linkage pass: a benchmark-shaped pass stays within its job budget") {
    // Linkage.run on LinkageFixtures.benchmarkShaped: salt pre-flight,
    // then one count of the candidates by (comparator levels, truth)
    // and u-probabilities; EM, scoring, precision bands and calibration
    // read the count table on the driver.
    val fx = LinkageFixtures.benchmarkShaped(spark)
    def pass(): (Long, Int, Double) = {
      val res = fx.run()
      (res.candidates, res.bands.length, res.trueTop.toDouble / res.top)
    }
    val (nCand, nBands, precision) = pass() // warm-up
    assert(nCand > 600 && nBands > 1 && precision > 0.9, (nCand, nBands, precision))
    // Measured 13 jobs. The same pass read 26 when it checkpointed the
    // candidate ids and compared the pairs twice (once for the pattern
    // counts, once for the per-pair scores, which it checkpointed and
    // scanned four more times); 33 with a two-job global aggregate at
    // each driver-sized result (salt pre-flight, id domains, u counts,
    // precision bands, calibration statistics); 39 with a blocking
    // dedup shuffle, a join-based salt pre-flight, a u-probability
    // window and a range-sorted band table as well.
    val (jobs, sites) = countJobs(assert(pass()._1 == nCand))
    assert(jobs <= 15, s"$jobs jobs: ${sites.mkString(", ")}")
  }

  test("linkage pass: one count of the pairs equals the two-path chain of the phase functions") {
    for ((name, fx) <- Seq("benchmark-shaped" -> LinkageFixtures.benchmarkShaped(spark),
        "LinkageDemo" -> LinkageFixtures.demo(spark))) {
      val res = fx.run()
      // The chain the pass replaced: checkpointed ids, pattern counts,
      // EM, then the pairs re-assembled, compared, scored and evaluated.
      val ids = Blocking.extractBlocks(fx.a, fx.b, fx.id, fx.id, fx.rules,
        selfLinkage = fx.selfLinkage, hotKeySalts = res.salts).localCheckpoint(true)
      val candidates = ids.count()
      val patterns = EM.collectPatterns(Pairs.patternCounts(fx.a, fx.b, fx.id, fx.id, ids, fx.comparators))
      val u = UProbs.calculateUProbs(fx.a, fx.b, fx.id, fx.id, fx.comparators, size = fx.uSample)
      val em = EM.run(patterns, totalPairs = candidates.toDouble, uProbabilities = u,
        maxIter = fx.emIterations)
      val pairIds = Seq(s"${fx.id}_left", s"${fx.id}_right")
      val scored = Scoring.attachTruth(Scoring.score(Comparators.doComparisons(
          Pairs.computePairsDataset(fx.a, fx.b, fx.id, fx.id, ids), fx.comparators, keep = pairIds),
          em), fx.truth, fx.id, "cluster")
        .select((pairIds :+ "weight" :+ "true_match").map(col): _*).localCheckpoint(true)
      val above = scored.filter(col("weight") > fx.threshold)

      assert(res.candidates == candidates, name)
      def multiset(ps: Seq[EM.Pattern]) = ps.groupMapReduce(_.levels)(_.n)(_ + _)
      assert(res.patterns.size == patterns.size && multiset(res.patterns) == multiset(patterns), name)
      assert(res.em == em, name) // bit-identical λ, m, u, weights and trace
      assert(res.top == above.count() && res.trueTop == above.filter(col("true_match")).count(), name)
      assert(res.bands == Scoring.precisionByBand(above).collect().toSeq, name)
      assert(res.calibration == Scoring.calibrate(scored), name)
      assert(res.scored.exceptAll(scored).isEmpty && scored.exceptAll(res.scored).isEmpty, name)
    }
  }

  test("blocking: ComputedKeys equals the equivalent Predicate pass (J2 rewrite)") {
    val computed = Blocking.extractBlocks(people, people, "id", "id",
      BlockingRules(Seq(ComputedKeys(Seq(
        ("s1", substring(col("surname_left"), 1, 1), substring(col("surname_right"), 1, 1)))))))
    val predicate = Blocking.extractBlocks(people, people, "id", "id",
      BlockingRules(Seq(Predicate(
        substring(col("surname_left"), 1, 1) === substring(col("surname_right"), 1, 1)))))
    val a = computed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = predicate.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("pair assembly: left joins preserve ids and suffix all columns (linking.R:49-60)") {
    val ids = Seq((1L, 2L), (3L, 4L)).toDF("id_left", "id_right")
    val pairs = Pairs.computePairsDataset(people, people, "id", "id", ids)
    assert(pairs.columns.toSet ==
      Set("id_left", "id_right",
        "first_name_left", "surname_left", "gender_left", "postcode_left",
        "first_name_right", "surname_right", "gender_right", "postcode_right"))
    val r = pairs.filter(col("id_left") === 1L).head
    assert(r.getAs[String]("first_name_left") == "alice" &&
      r.getAs[String]("first_name_right") == "alicia")
  }

  test("pattern counts: multiplicities over distinct comparison vectors (A1)") {
    val ids = Seq((1L, 2L), (1L, 5L), (2L, 5L), (3L, 4L)).toDF("id_left", "id_right")
    val comparators = Comparators.exact(Seq("surname", "postcode"))
    val counts = Pairs.patternCounts(people, people, "id", "id", ids, comparators)
    val got = counts.collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getLong(2))).toSet
    assert(got == Set(
      (Some("agree"), Some("agree"), 1L),     // (1,2)
      (Some("agree"), None, 2L),              // (1,5),(2,5): postcode NULL on 5
      (Some("disagree"), Some("agree"), 1L))) // (3,4)
  }

  test("frequencyWeightedAgreement: surprisal on agree, 0 on disagree, NULL on missing") {
    val pop = Seq("a", "a", "a", "b").toDF("seg") // N=4: cnt(a)=3, cnt(b)=1
    val pairs = Seq(
      (1L, 2L, Some("a"), Some("a")),
      (3L, 4L, Some("b"), Some("b")),
      (5L, 6L, Some("a"), Some("b")),
      (7L, 8L, Some("a"), None)
    ).toDF("id_left", "id_right", "seg_left", "seg_right")
    val got = Comparators.frequencyWeightedAgreement(pairs, "seg", pop, "seg")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getAs[String]("seg_agreed")),
          Option(r.getAs[Any]("seg_fw_unat")).map(_.asInstanceOf[Long])))).toMap
    def unat(n: Long, cnt: Long) = math.floor(math.log(n.toDouble / cnt) * 1e6).toLong
    assert(got(1L) == ((Some("a"), Some(unat(4, 3)))))   // common value: small weight
    assert(got(3L) == ((Some("b"), Some(unat(4, 1)))))   // rare value: ln(4) ≈ 1.386e6
    assert(got(5L) == ((None, Some(0L))))                // disagreement
    assert(got(7L) == ((None, None)))                    // missing → NULL level
    assert(unat(4, 1) > unat(4, 3))
  }

  test("sortedNeighborhood: typo neighbors pair, budget is exactly w·n − tail, ties total") {
    val df = Seq(
      (1L, "smith"), (2L, "smyth"), (3L, "smithe"),  // sort-adjacent typos
      (4L, "jones"), (5L, "zzz")).toDF("id", "name")
    val got = graft.linkage.Blocking.sortedNeighborhood(df, "id", col("name"), w = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // name order: jones(4) smith(1) smithe(3) smyth(2) zzz(5)
    assert(got == Set(
      (4L, 1L, 1L), (4L, 3L, 2L),
      (1L, 3L, 1L), (1L, 2L, 2L),
      (3L, 2L, 1L), (3L, 5L, 2L),
      (2L, 5L, 1L)), s"got $got")
    // smith–smyth (a distance-2 typo) pairs — equi-blocking on the
    // exact name would have missed it
    assert(got.exists(p => Set(p._1, p._2) == Set(1L, 2L)))
    // linear pair budget: w·n − (1+2+…+w) tail = 10 − 3 = 7
    assert(got.size == 7)
  }

  test("randIndex: hand clusterings with a known Rand value; identity = 1e6") {
    // A: {1,2},{3}; B: {1},{2,3} — of 3 pairs: (1,2) split by B,
    // (2,3) split by A, (1,3) separate in both → S=0, D=1, Rand=1/3.
    val a = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "cl")
    val b = Seq((1L, "p"), (2L, "q"), (3L, "q")).toDF("id", "cl")
    val r = graft.ops.Clusters.randIndex(a, "id", "cl", b, "id", "cl").collect()(0)
    assert((r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((3L, 0L, 1L, 333333L)))
    // a clustering against itself is perfect agreement
    val self = graft.ops.Clusters.randIndex(a, "id", "cl", a, "id", "cl").collect()(0)
    assert(self.getLong(4) == 1000000L &&
      self.getLong(2) == 1L && self.getLong(3) == 2L)
  }
}
