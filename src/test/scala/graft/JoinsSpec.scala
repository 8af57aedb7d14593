package graft

import org.apache.spark.sql.functions._
import graft.ops.Joins

class JoinsSpec extends SparkSpec {
  import spark.implicits._

  private def asofFixture = {
    val left = Seq(
      (1L, 10L, "e1"), (1L, 20L, "e2"), (1L, 8L, "e0"),
      (2L, 5L, "e3"), (3L, 7L, "e4")
    ).toDF("k", "t", "ev")
    val right = Seq(
      (1L, 8L, "a", 1.0), (1L, 15L, "b", 2.0), (2L, 9L, "c", 3.0)
    ).toDF("k", "t", "name", "v")
    (left, right)
  }

  test("asof backward: latest right at-or-before, ties included, left join nulls") {
    val (left, right) = asofFixture
    val got = Joins.asofJoin(left, right, Seq("k" -> "k"), "t", "t")
      .select("k", "t", "ev", "name", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.getString(3)), Option(r.get(4)))).toSet
    assert(got == Set(
      (1L, 8L, "e0", Some("a"), Some(1.0)),   // tie t=8 matches
      (1L, 10L, "e1", Some("a"), Some(1.0)),
      (1L, 20L, "e2", Some("b"), Some(2.0)),
      (2L, 5L, "e3", None, None),             // right only at t=9 (after)
      (3L, 7L, "e4", None, None)))            // no right rows for key
  }

  test("asof forward: earliest right at-or-after") {
    val (left, right) = asofFixture
    val got = Joins.asofJoin(left, right, Seq("k" -> "k"), "t", "t", forward = true)
      .select("k", "t", "ev", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.getString(3)))).toSet
    assert(got == Set(
      (1L, 8L, "e0", Some("a")),
      (1L, 10L, "e1", Some("b")),
      (1L, 20L, "e2", None),
      (2L, 5L, "e3", Some("c")),
      (3L, 7L, "e4", None)))
  }

  test("asof: packed struct carry never mixes columns of different right rows") {
    // Right row at t=15 has a NULL v; a per-column last(ignoreNulls)
    // carry would pair name="b" with v=1.0 from the EARLIER row.
    val left = Seq((1L, 20L)).toDF("k", "t")
    val right = Seq((1L, 8L, "a", Option(1.0)), (1L, 15L, "b", Option.empty[Double]))
      .toDF("k", "t", "name", "v")
    val row = Joins.asofJoin(left, right, Seq("k" -> "k"), "t", "t")
      .select("name", "v").collect().head
    assert(row.getString(0) == "b" && row.isNullAt(1))
  }

  test("asof: null keys and null times never match; matched time exposed") {
    val left = Seq((Option(1L), Option(10L)), (Option.empty[Long], Option(10L)),
      (Option(1L), Option.empty[Long])).toDF("k", "t")
    val right = Seq((Option(1L), Option(5L), "a"), (Option.empty[Long], Option(1L), "n"),
      (Option(1L), Option.empty[Long], "z")).toDF("k", "t", "name")
    val got = Joins.asofJoin(left, right, Seq("k" -> "k"), "t", "t",
        matchedTimeCol = Some("matched_t"))
      .select("k", "t", "name", "matched_t")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(got == Set(
      (Some(1L), Some(10L), Some("a"), Some(5L)),
      (None, Some(10L), None, None),
      (Some(1L), None, None, None)))
  }

  test("asof forward: null keys and null times never match") {
    // Regression: forward mode sorts by __t DESC, and plain desc puts
    // nulls LAST — a null-time left row then sorted after every right
    // row and the running carry handed it a fabricated match
    // (the smallest right time). desc_nulls_first restores no-match.
    val left = Seq((Option(1L), Option(10L)), (Option.empty[Long], Option(10L)),
      (Option(1L), Option.empty[Long])).toDF("k", "t")
    val right = Seq((Option(1L), Option(15L), "a"), (Option.empty[Long], Option(1L), "n"),
      (Option(1L), Option.empty[Long], "z")).toDF("k", "t", "name")
    val got = Joins.asofJoin(left, right, Seq("k" -> "k"), "t", "t", forward = true,
        matchedTimeCol = Some("matched_t"))
      .select("k", "t", "name", "matched_t")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(got == Set(
      (Some(1L), Some(10L), Some("a"), Some(15L)),
      (None, Some(10L), None, None),
      (Some(1L), None, None, None)))
  }

  test("band join: complete and duplicate-free across bin boundaries") {
    // band = 10; pairs within |dt| <= 10 on the same key. Includes a
    // right row in the left row's own bin, one in bin-1, one in bin+1,
    // exact-band edges, and an out-of-band row.
    val left = Seq((1L, 100L, "L1"), (2L, 50L, "L2")).toDF("k", "lt", "ltag")
    val right = Seq(
      (1L, 104L, "same-bin"), (1L, 95L, "bin-1"), (1L, 110L, "edge+10"),
      (1L, 90L, "edge-10"), (1L, 111L, "out"), (2L, 39L, "out2"), (2L, 60L, "edge2")
    ).toDF("k", "rt", "rtag")
    val got = Joins.bandJoin(left, right, Seq("k" -> "k"), "lt", "rt", band = 10L)
      .select("ltag", "rtag").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.length == got.toSet.size, "duplicate pairs emitted")
    assert(got.toSet == Set(
      ("L1", "same-bin"), ("L1", "bin-1"), ("L1", "edge+10"), ("L1", "edge-10"),
      ("L2", "edge2")))
  }

  test("band join matches the naive theta-join on random data, incl. negative times") {
    val left = (1 to 200).map(i => ((i % 5).toLong, (i * 37 % 400).toLong - 200, i))
      .toDF("k", "lt", "lid")
    val right = (1 to 200).map(i => ((i % 5).toLong, (i * 53 % 400).toLong - 200, i))
      .toDF("k", "rt", "rid")
    val fast = Joins.bandJoin(left, right, Seq("k" -> "k"), "lt", "rt", band = 7L)
      .select("lid", "rid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val naive = left.join(right, left("k") === right("k") &&
        abs(left("lt") - right("rt")) <= 7)
      .select("lid", "rid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(fast == naive)
  }

  test("band join: exact bins beyond double precision (epoch-nanos scale)") {
    // Regression: the bin used to be computed with Column `/` (double
    // division), so for |t/band| > 2^53 the quotient rounded and
    // equal/adjacent true bins landed on non-equal doubles — in-band
    // pairs silently dropped. Times here sit at 9.1e18 (epoch-nanos
    // magnitude) with band=1000, i.e. quotients ~9.1e15 > 2^53.
    val base = 9100000000000000000L
    val rnd = new scala.util.Random(11)
    val left = (1 to 300).map(i => ((i % 3).toLong, base + rnd.nextInt(6000).toLong, i))
      .toDF("k", "lt", "lid")
    val right = (1 to 300).map(i => ((i % 3).toLong, base + rnd.nextInt(6000).toLong, i))
      .toDF("k", "rt", "rid")
    val fast = Joins.bandJoin(left, right, Seq("k" -> "k"), "lt", "rt", band = 1000L)
      .select("lid", "rid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val naive = left.join(right, left("k") === right("k") &&
        abs(left("lt") - right("rt")) <= 1000L)
      .select("lid", "rid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(fast == naive && naive.nonEmpty)
  }

  test("salted join equals the plain join") {
    val big = (1 to 1000).map(i => (if (i % 10 == 0) 1L else (i % 7).toLong, i))
      .toDF("k", "id")
    val small = Seq((0L, "z"), (1L, "a"), (2L, "b"), (6L, "f"), (9L, "missing"))
      .toDF("k", "tag")
    val plain = big.join(small, Seq("k")).select("id", "tag")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val salted = Joins.saltedJoin(big, small, Seq("k"), col("id"), salts = 8)
      .select("id", "tag").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(salted == plain && plain.nonEmpty)
    // left-join parity too (unmatched big rows survive exactly once)
    val plainL = big.join(small, Seq("k"), "left").count()
    val saltedL = Joins.saltedJoin(big, small, Seq("k"), col("id"), salts = 8, "left").count()
    assert(plainL == saltedL && saltedL == 1000L)
  }

  test("overlap join matches the naive theta-join on random variable intervals") {
    val rnd = new scala.util.Random(23)
    // variable-length intervals (0..5000 long) over a 0..40000 range,
    // including zero-length and bin-straddling ones; binSize chosen
    // off the interval-length scale to exercise multi-bin explodes.
    val left = (1 to 250).map { i =>
      val s = rnd.nextInt(40000).toLong
      ((i % 3).toLong, i, s, s + rnd.nextInt(5000).toLong)
    }.toDF("lk", "lid", "ls", "le")
    val right = (1 to 250).map { i =>
      val s = rnd.nextInt(40000).toLong
      ((i % 3).toLong, i, s, s + rnd.nextInt(5000).toLong)
    }.toDF("rk", "rid", "rs", "re")
    val naive = left.join(right, left("lk") === right("rk") &&
        left("ls") <= right("re") && right("rs") <= left("le"))
      .select("lid", "rid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    for (bin <- Seq(700L, 5000L, 50000L)) {
      val fast = Joins.overlapJoin(left, right, Seq("lk" -> "rk"),
          "ls", "le", "rs", "re", binSize = bin)
        .select("lid", "rid").collect().map(r => (r.getInt(0), r.getInt(1)))
      assert(fast.length == fast.toSet.size, s"bin=$bin emitted duplicates")
      assert(fast.toSet == naive, s"bin=$bin mismatch")
    }
    assert(naive.nonEmpty)

    // negative timestamps (pre-epoch): pmod-based bins must stay exact
    val nl = left.withColumn("ls", col("ls") - 100000L).withColumn("le", col("le") - 100000L)
    val nr = right.withColumn("rs", col("rs") - 100000L).withColumn("re", col("re") - 100000L)
    val nNaive = nl.join(nr, nl("lk") === nr("rk") &&
        nl("ls") <= nr("re") && nr("rs") <= nl("le"))
      .select("lid", "rid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val nFast = Joins.overlapJoin(nl, nr, Seq("lk" -> "rk"),
        "ls", "le", "rs", "re", binSize = 700L)
      .select("lid", "rid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(nFast == nNaive && nNaive == naive) // pure shift preserves pairs
  }

  test("bloom semi join equals the exact semi join, null keys never match") {
    // Probe keys mostly ABSENT from the build side (the case the Bloom
    // pass exists for) + null keys + dup probe rows (semi keeps both).
    val left = ((1L to 500L).map(k => (k: java.lang.Long, s"p$k")) ++
      Seq((null.asInstanceOf[java.lang.Long], "pnull"), (7L: java.lang.Long, "p7b")))
      .toDF("lk", "payload")
    val right = Seq(7L, 21L, 400L, 9999L).toDF("rk")
    val exact = left.join(right, col("lk") === col("rk"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val bloomed = Joins.bloomSemiJoin(left, right, "lk", "rk", expectedItems = 100L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(bloomed == exact)
    assert(exact == Set((7L, "p7"), (7L, "p7b"), (21L, "p21"), (400L, "p400")))
  }

  test("bloom semi join: string keys probe correctly (not silently empty)") {
    val left = ((1 to 300).map(i => (s"key_$i", i)) ++ Seq((null.asInstanceOf[String], -1)))
      .toDF("lk", "id")
    val right = Seq("key_7", "key_211", "key_300", "absent").toDF("rk")
    val exact = left.join(right, col("lk") === col("rk"), "left_semi")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val bloomed = Joins.bloomSemiJoin(left, right, "lk", "rk", expectedItems = 50L)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(bloomed == exact)
    assert(exact == Set(("key_7", 7), ("key_211", 211), ("key_300", 300)))
    // Mixed key types are rejected up front rather than returning empty.
    val thrown = intercept[IllegalArgumentException] {
      Joins.bloomSemiJoin(left, Seq(1L).toDF("rk"), "lk", "rk", expectedItems = 10L)
    }
    assert(thrown.getMessage.contains("integral or both string"))
  }

  test("bloom probe is a codegen expression: no Scala UDF in the plan, UTF-8 encoding matches putString") {
    import org.apache.spark.util.sketch.BloomFilter
    // (a) The probe side must stay inside whole-stage codegen — the
    // r12 probe was the library's last per-row Scala UDF and broke
    // codegen on the huge-probe-side join it exists for. The probe
    // side reads from parquet: over a LocalRelation the optimizer
    // folds the filter away entirely (ConvertToLocalRelation), which
    // hides the physical shape this test pins.
    val dir = tempDir("graft_bloom_spec").toString
    (1L to 100L).map(k => (k, s"p$k")).toDF("lk", "payload")
      .write.mode("overwrite").parquet(dir)
    val left = spark.read.parquet(dir)
    val right = Seq(7L, 21L).toDF("rk")
    val joined = Joins.bloomSemiJoin(left, right, "lk", "rk", expectedItems = 10L)
    joined.collect() // finalize the adaptive plan — codegen spans only print on the final plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"probe must not be a Scala UDF:\n$plan")
    assert(plan.contains("bloom_might_contain"), s"expected the codegen probe in:\n$plan")
    // The `*(n)` star marker on the Filter line is the whole-stage-
    // codegen span in the final-plan rendering — a non-codegen
    // expression would demote the Filter to an un-starred node.
    val filterLine = plan.linesIterator
      .find(l => l.contains("Filter") && l.contains("bloom_might_contain"))
    assert(filterLine.exists(_.contains("*(")),
      s"bloom probe Filter must sit inside a whole-stage-codegen span:\n$plan")

    // (b) String probes use mightContainBinary over UTF-8 bytes —
    // assert against the sketch's own putString/mightContainString
    // (including non-ASCII), since an encoding mismatch would be a
    // silent false NEGATIVE, the one failure mode the filter forbids.
    val bf = BloomFilter.create(100, 0.01)
    val keys = Seq("plain", "κλειδί", "ключ", "kagi-締切", "")
    keys.foreach(bf.putString)
    import org.apache.spark.sql.graftbridge.Bridge
    val probeDf = (keys ++ Seq("absent", "κλειδι")).toDF("k")
      .select(col("k"), Bridge.column(
        graft.expr.BloomMightContain(Bridge.expression(col("k")), bf)).as("maybe"))
    val got = probeDf.collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    keys.foreach(k => assert(got(k), s"inserted key '$k' must probe true"))
  }

  test("range lookup join matches the naive BETWEEN theta-join across bin sizes") {
    val rnd = new scala.util.Random(37)
    val points = (1 to 400).map(i => ((i % 3).toLong, i, rnd.nextInt(40000).toLong))
      .toDF("pk", "pid", "v")
    // overlapping variable-length ranges incl. zero-length and point-boundary
    val ranges = (1 to 120).map { i =>
      val s = rnd.nextInt(40000).toLong
      ((i % 3).toLong, i, s, s + rnd.nextInt(6000).toLong)
    }.toDF("rk", "rid", "lo", "hi")
    val naive = points.join(ranges, points("pk") === ranges("rk") &&
        points("v") >= ranges("lo") && points("v") <= ranges("hi"))
      .select("pid", "rid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    for (bin <- Seq(800L, 6000L, 60000L)) {
      val fast = Joins.rangeLookupJoin(points, ranges, "v", "lo", "hi", bin,
          keys = Seq("pk" -> "rk"))
        .select("pid", "rid").collect().map(r => (r.getInt(0), r.getInt(1)))
      assert(fast.length == fast.toSet.size, s"bin=$bin emitted duplicates")
      assert(fast.toSet == naive, s"bin=$bin mismatch")
    }
    assert(naive.nonEmpty)
    // point side never fans out: output partitions' input row count ==
    // points — proven structurally: no explode on the point plan
    val plan = Joins.rangeLookupJoin(points, ranges, "v", "lo", "hi", 800L)
      .queryExecution.optimizedPlan.toString
    // exactly one Generate (the ranges explode), none feeding from points
    assert(plan.split("Generate ", -1).length == 2, plan)
  }

  test("waterfallJoin: first-match-wins, pass-through, duplicate-key rejection") {
    import spark.implicits._
    val left = Seq(
      (1L, Some(10L), Some(200L)),  // level 1 hits; its k2 would ALSO hit
      (2L, Some(99L), Some(200L)),  // level 1 misses (99 absent) -> level 2
      (3L, None, Some(300L)),       // null level-1 key -> level 2
      (4L, None, None)              // matches nothing -> passes through
    ).toDF("id", "k1", "k2")
    val right = Seq(
      (10L, 999L, "gold"), (11L, 200L, "silver"), (12L, 300L, "bronze")
    ).toDF("rk1", "rk2", "grade")
    val got = graft.ops.Joins.waterfallJoin(left, right, Seq("k1" -> "rk1", "k2" -> "rk2"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getAs[String]("grade")),
          if (r.isNullAt(r.fieldIndex("matched_level"))) None
          else Some(r.getInt(r.fieldIndex("matched_level")))))).toMap
    // id 1 resolves at level 1 even though its k2 (100) matches nothing
    assert(got(1L) == ((Some("gold"), Some(1))))
    assert(got(2L) == ((Some("silver"), Some(2))))
    assert(got(3L) == ((Some("bronze"), Some(2))))
    assert(got(4L) == ((None, None)))
    // a right key that would fan out left rows is rejected loudly
    val dup = Seq((10L, 1L, "a"), (10L, 2L, "b")).toDF("rk1", "rk2", "grade")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Joins.waterfallJoin(left, dup, Seq("k1" -> "rk1"))
    }
    assert(ex.getMessage.contains("not unique"))
  }
}
