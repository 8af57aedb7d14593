package graft

import org.apache.spark.sql.functions._
import graft.ops.{Graphs, Profiling, Sampling, Urls}

/** The round-6 continuation operators: URL canonicalization, priority
  * weighted sampling, the per-column ANALYZE profile, and k-hop BFS.
  * Cross-engine exactness is proven by the oracle rows
  * (q_url_normalize / q_weighted_sample / q_col_profile / q_bfs);
  * these specs pin the SEMANTIC rules on hand-built fixtures.
  */
class UrlsProfilingSpec extends SparkSpec {
  import spark.implicits._

  test("canonicalizeUrl: every rule, one case each") {
    val cases = Seq(
      // scheme+host lowercased, default https port dropped, www kept off, params sorted
      ("HTTPS://Example.COM:443/a?b=2&a=1", "https://example.com/a?a=1&b=2"),
      // http default port, fragment dropped
      ("http://x.org:80/p#frag", "http://x.org/p"),
      // www stripped, trailing slash stripped
      ("https://www.site.io/path/", "https://site.io/path"),
      // tracking params dropped, empty query dropped
      ("https://site.io/p?utm_source=x&utm_medium=y&gclid=1&fbclid=2", "https://site.io/p"),
      // empty path -> /
      ("https://site.io", "https://site.io/"),
      ("https://site.io?a=1", "https://site.io/?a=1"),
      // NON-default port kept; unknown scheme's port kept
      ("https://site.io:8443/p", "https://site.io:8443/p"),
      ("ftp://site.io:80/p", "ftp://site.io:80/p"),
      // param without '=' still sorts and survives
      ("https://site.io/p?flag&a=1", "https://site.io/p?a=1&flag"),
      // utm must be a prefix of the KEY, not the value
      ("https://site.io/p?q=utm_source", "https://site.io/p?q=utm_source"),
      // invalid -> null
      ("not a url", null),
      ("", null),
      ("relative/path?a=1", null))
    val got = cases.map(_._1).toDF("url")
      .select(Urls.canonicalizeUrl(col("url")).as("c")).collect().map(_.getString(0))
    cases.zip(got).foreach { case ((in, want), g) =>
      assert(g == want, s"canonicalizeUrl($in): got $g want $want")
    }
  }

  test("canonicalizeUrl: NULL in -> NULL out; case, www. and :80 normalized") {
    val df = Seq[(java.lang.Long, String)]((1L, null), (2L, "HTTP://WWW.A.B:80/x"))
      .toDF("id", "url")
    val rows = df.select(Urls.canonicalizeUrl(col("url")).as("c")).collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getString(0) == "http://a.b/x")
  }

  test("weightedSample: matches an independent Scala computation of the priorities") {
    // Independent reimplementation: md5 hex of the key string, first 15
    // hex digits as a long, integer-divided by the weight. One stratum
    // holds every row, so weightedSampleByGroup's k are the global top k.
    def prio(key: Long, w: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(key.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) / w
    }
    val rows = (1L to 200L).map(i => (i, (i % 7) + 1)) // weights 1..7
    val expected = rows.map { case (id, w) => (id, prio(id, w)) }
      .sortBy { case (id, p) => (p, id) }.take(10).map(_._1).toSet
    val got = Sampling.weightedSampleByGroup(
        rows.toDF("id", "w").withColumn("g", lit(0)).repartition(5),
        Seq("g"), col("id"), col("w"), k = 10)
      .select("id").as[Long].collect().toSet
    assert(got == expected, s"got $got want $expected")
  }

  test("weightedSampleByGroup: k per group, deterministic under repartition") {
    val df = (1L to 300L).map(i => (i, s"g${i % 3}", i % 5 + 1)).toDF("id", "g", "w")
    val a = Sampling.weightedSampleByGroup(df, Seq("g"), col("id"), col("w"), k = 7)
    val b = Sampling.weightedSampleByGroup(df.repartition(11), Seq("g"), col("id"), col("w"), k = 7)
    val ca = a.groupBy("g").count().as[(String, Long)].collect().toMap
    assert(ca == Map("g0" -> 7L, "g1" -> 7L, "g2" -> 7L))
    assert(a.select("id").as[Long].collect().toSet == b.select("id").as[Long].collect().toSet)
  }

  test("weightedSample: a zero weight fails loudly") {
    val ex = intercept[Throwable] {
      Sampling.weightedSampleByGroup(Seq((1L, 0L, 0)).toDF("id", "w", "g"), Seq("g"),
        col("id"), col("w"), 1).collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} ${msgs(t.getCause)}"
    assert(msgs(ex).contains("weight must be >= 1"))
  }

  test("tableProfile: exact null/ndv/min/max per column, one row each") {
    val df = Seq(
      (1L, "a", Some("x")), (2L, "b", None), (3L, "a", Some("y")),
      (4L, "c", None), (4L, "a", Some("x"))).toDF("k", "s", "opt")
    val got = Profiling.tableProfile(df, Seq("k", "s", "opt"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(got("k") == ((5L, 0L, 4L, "1", "4")))
    assert(got("s") == ((5L, 0L, 3L, "a", "c")))
    assert(got("opt") == ((5L, 2L, 2L, "x", "y")))
  }

  test("tableProfile: single scan — one aggregate over one relation in the plan") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val plan = Profiling.tableProfile(df, Seq("k", "s"))
      .queryExecution.optimizedPlan.toString
    // The multi-distinct plans through Expand; a per-column union of
    // aggregates would show one LocalRelation/scan per column instead.
    assert(plan.contains("Expand") || !plan.contains("Union"),
      s"expected a single Expand-planned aggregate, got:\n$plan")
  }

  test("bfsDistances: hop distances on a hand graph; unreached nodes absent") {
    //  1 -> 2 -> 3 -> 4,  1 -> 3 (shortcut),  isolated 9 <- 8
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (8L, 9L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val got = Graphs.bfsDistances(edges, seeds, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("bfsDistances: multi-seed takes the min; rounds bound the frontier") {
    val chain = (1L to 6L).sliding(2).map(w => (w(0), w(1))).toSeq.toDF("src", "dst")
    val got = Graphs.bfsDistances(chain, Seq(1L, 5L).toDF("id"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    // node 6 is 1 hop from seed 5 (not 5 hops from seed 1); node 4 is
    // beyond 2 rounds of seed 1 and absent.
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 5L -> 0L, 6L -> 1L))
    // 3 rounds down the 12-node path 1→2→…→12 reach exactly nodes 1–4
    val path = (1L to 11L).map(i => (i, i + 1)).toDF("src", "dst")
    val reach = Graphs.bfsDistances(path, Seq(1L).toDF("id"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(reach == (1L to 4L).map(i => i -> (i - 1)).toMap)
  }

  test("bfsDistances: directed — no backward reach without symmetrized edges") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val got = Graphs.bfsDistances(edges, Seq(2L).toDF("id"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 0L))
  }

  test("pathPrefixCounts: ancestors roll up, depth cap, junk dropped") {
    import spark.implicits._
    val urls = Seq(
      "https://ex.com/a/b/c",
      "https://ex.com/a/b",
      "https://ex.com/a",
      "https://ex.com/",
      "https://other.org/x",
      "garbage").toDF("u")
    val got = graft.ops.Urls.pathPrefixCounts(urls, col("u"), maxDepth = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every ex.com URL contributes the host row
    assert(got(("ex.com", 0L)) == 4L)
    // /a collects its own hit plus both descendants
    assert(got(("ex.com/a", 1L)) == 3L)
    // depth capped at 2: /a/b counts the /a/b/c descendant, no depth-3 row
    assert(got(("ex.com/a/b", 2L)) == 2L)
    assert(!got.keySet.exists(_._2 > 2L))
    assert(got(("other.org", 0L)) == 1L && got(("other.org/x", 1L)) == 1L)
    assert(!got.keySet.exists(_._1.contains("garbage")))
  }

  test("temporalBfs: time-respecting reach — static BFS overstates; earliest arrival wins") {
    import spark.implicits._
    // 1 -(t5)-> 2 -(t3)-> 3: the 2→3 edge fired BEFORE 2 was reached,
    // so 3 is temporally unreachable though statically 2 hops away.
    // 1 -(t7)-> 4 and 1 -(t9)-> 4: earliest arrival 7 wins.
    // 4 -(t8)-> 5: invalid from the t9 copy, valid from t7's arrival.
    val edges = Seq(
      (1L, 2L, 5L), (2L, 3L, 3L),
      (1L, 4L, 7L), (1L, 4L, 9L), (4L, 5L, 8L)).toDF("src", "dst", "t")
    val seeds = Seq(1L).toDF("id")
    val got = graft.ops.Graphs.temporalBfs(edges, seeds, rounds = 3, startTime = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 4L -> 7L, 5L -> 8L), s"got $got")
    // static BFS DOES claim node 3 — the overstatement temporalBfs fixes
    val static3 = graft.ops.Graphs.bfsDistances(
      edges.select("src", "dst"), seeds, rounds = 3)
      .collect().map(_.getLong(0)).toSet
    assert(static3.contains(3L))
    // fixpoint: extra rounds change nothing
    val more = graft.ops.Graphs.temporalBfs(edges, seeds, rounds = 5, startTime = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more == got)
    // a seed's own start time gates its first hop
    val late = graft.ops.Graphs.temporalBfs(edges, seeds, rounds = 3, startTime = 6L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(late == Map(1L -> 6L, 4L -> 7L, 5L -> 8L), s"late start: $late")
  }

  test("shortestPaths: low-weight 2-hop route beats the direct edge; parallel edges take min") {
    // 1 -(10)-> 3 direct, but 1 -(2)-> 2 -(3)-> 3 is cheaper; the
    // parallel 1->2 edge of weight 7 must collapse to the min (2).
    val edges = Seq((1L, 3L, 10L), (1L, 2L, 2L), (1L, 2L, 7L), (2L, 3L, 3L))
      .toDF("src", "dst", "w")
    val got = Graphs.shortestPaths(edges, Seq(1L).toDF("id"), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 5L))
  }

  test("shortestPaths: rounds bound relaxation depth; fixpoint rounds are no-ops") {
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    // 1 round reaches only node 2; node 3/4 absent (not infinite).
    val r1 = Graphs.shortestPaths(chain, seeds, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 0L, 2L -> 1L))
    // Past the fixpoint extra rounds change nothing (the fixed-unroll
    // contract the oracle mirror depends on).
    val r3 = Graphs.shortestPaths(chain, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    val r6 = Graphs.shortestPaths(chain, seeds, rounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(r3 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L) && r6 == r3)
  }

  test("shortestPaths: negative edge weight fails loudly") {
    val edges = Seq((1L, 2L, -1L)).toDF("src", "dst", "w")
    val ex = intercept[Exception] {
      Graphs.shortestPaths(edges, Seq(1L).toDF("id"), rounds = 2).collect()
    }
    assert(ex.getMessage.contains("negative edge weight"))
  }
}
