package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.QueryTag._
import graft.linkage._

/** The query surface — see SURVEY.md §7.
  *
  * Every [[QueryDef]] in [[registry]] is a named DataFrame program over
  * the parquet tables of an sf directory, with the equivalent DuckDB
  * SQL and its tags. Column names are aligned on both sides (the
  * compare sorts columns by name before hashing). All queries are
  * deterministic: exact arithmetic (counts, integer-valued sums, single
  * divisions) only — no order-dependent float accumulation.
  */
object SparkEntry {

  /** Scan helper. Deliberately does NOT blanket-wrap fact tables in
    * [[graft.util.Parallelism.ensure]]: a round-robin exchange cannot
    * parallelize the SCAN itself (a single-row-group file still reads
    * serially; only downstream narrow compute spreads), so for
    * scan→shuffle queries it is pure added cost at fixture scale and a
    * no-op at real scale — measured when round 13 tried the blanket
    * form: +0.2–0.4 s per light query at sf0.1 (q_topk 0.27→0.50 s,
    * q_lineitem_agg 0.48→0.80 s same-day A/B) with zero benefit. The
    * guard belongs where heavy NARROW compute follows the scan — the
    * `ensure` call sites in the query bodies and operator internals —
    * and that placement is REGISTRY-GATED: every query tagged
    * [[QueryTag.HeavyScan]] is spec-asserted (ParallelismSpec) to carry
    * the repartition guard in its plan, so coverage is one audited
    * tag, not per-query whack-a-mole.
    *
    * Schema reuse: inferring a parquet schema is a one-task Spark job
    * per read (median 63–71 ms warm for sf0.1 `embeddings` on 4 cores;
    * 9–10 ms through this reuse, key check included). So the first
    * read of a table keeps its inferred schema, and later reads pass
    * it (`read.schema(s).parquet(path)`) for as long as the key still
    * matches: the name, length and modification time of every leaf
    * file under the path, plus the session's `spark.sql.parquet.*`,
    * `spark.sql.legacy.parquet.*` and `spark.sql.caseSensitive`
    * values. A changed key re-infers and replaces the path's one
    * entry. A path that cannot be listed is read without reuse, so its
    * error is Spark's own.
    */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    scanKey(s, path) match {
      case None => s.read.parquet(path)
      case Some(key) => scanSchemas.get(path) match {
        case (`key`, schema) => s.read.schema(schema).parquet(path)
        case _ =>
          val df = s.read.parquet(path)
          scanSchemas.put(path, (key, df.schema))
          df
      }
    }
  }

  /** Leaf files as (name, length, modification time), and the parquet
    * read confs as (key, value).
    */
  private type ScanKey = (Seq[(String, Long, Long)], Seq[(String, String)])

  /** path → (scan key, schema inferred under it); see [[t]]. */
  private val scanSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, (ScanKey, StructType)]()

  /** The [[ScanKey]] of `path` in `s`; None if `path` cannot be listed.
    * The walk uses `getFileStatus`/`listStatus`, not `listFiles`: a
    * `LocatedFileStatus` loads the file's permissions, which the local
    * file system does by forking `ls -ld` once per file.
    */
  private def scanKey(s: SparkSession, path: String): Option[ScanKey] = {
    import org.apache.hadoop.fs.FileStatus
    val p = new org.apache.hadoop.fs.Path(path)
    val files = try {
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      def leaves(f: FileStatus): Seq[FileStatus] =
        if (f.isDirectory) fs.listStatus(f.getPath).toSeq.flatMap(leaves) else Seq(f)
      Some(leaves(fs.getFileStatus(p))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted)
    } catch { case _: java.io.IOException => None }
    val confs = s.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted
    files.map((_, confs))
  }

  /** Epoch-microseconds of an event-time column whatever the fixture's
    * physical type: NANOS-since-epoch BIGINT (parquet timestamp[ns]
    * read with nanosAsLong) or a native parquet timestamp (µs,
    * possibly NTZ — wall time is UTC by the session contract).
    * DuckDB's `epoch_us(ts)` over the same file agrees exactly in both
    * cases, so oracle SQL stays type-agnostic.
    */
  private def tsMicros(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType => expr(s"$c div 1000")
      case _ => unix_micros(col(c).cast("timestamp"))
    }

  /** Epoch-NANOS counterpart of [[tsMicros]] (µs → ns multiply is
    * exact in BIGINT: ~1.7e18 « 2^63); mirrors DuckDB `epoch_ns`. */
  private def tsNanos(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType => col(c)
      case _ => unix_micros(col(c).cast("timestamp")) * lit(1000L)
    }

  /** Stable scratch BASE for query-local filesystem work. Round-15
    * measurement correction: the old `createTempDirectory` default put
    * scratch on `/tmp`, which this VM mounts on the burst-throttled
    * virtio disk (`df`: /tmp → /dev/vda) — the exact device the
    * session conf already routes `spark.local.dir` around ("shuffle
    * spill on this VM's virtio disk is burst-throttled; tmpfs keeps
    * shuffle-heavy queries off the device"). Every write-exercising
    * query (roundtrips, partitioned/bucketed/z-order writes, upsert,
    * compaction, the streaming checkpoint+state store) was paying
    * device I/O that the bench does not intend to measure — at
    * production scale these writes land on distributed storage, so the
    * local device is a stand-in either way and the RAM-backed one is
    * the faithful analogue of the shuffle decision. Override with
    * SPARK_GRAFT_SCRATCH (e.g. point it at a real disk to measure
    * device-bound write paths deliberately).
    */
  private lazy val scratchBase: String =
    sys.env.get("SPARK_GRAFT_SCRATCH").getOrElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm"
      else System.getProperty("java.io.tmpdir", "/tmp")
    }

  /** Per-JVM scratch root for queries that exercise a filesystem
    * layout (partitioned / bucketed / z-order / jsonl writes). One
    * root under [[scratchBase]], deleted recursively by a shutdown
    * hook; each query gets a DETERMINISTIC subdirectory, so repeated
    * passes (the bench runs every query 3+ times) overwrite in place
    * instead of leaking a fresh RAM-backed copy per pass.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(scratchBase), "graft_scratch")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => rm(root.toFile)))
    root
  }

  private def scratchDir(name: String): String = {
    val d = scratchRoot.resolve(name)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  // ---- shared linkage fixtures over the TPC-H-ish tables ------------

  /** Customer self-linkage blocking: one two-key equi pass + one
    * computed-key pass (the scale rewrite of the reference's prefix
    * predicate pass, scratch.R:25). `selfLinkage = true` pushes the
    * canonical `id_left < id_right` into each (disjoint) pass, so no
    * pass emits the second orientation of a pair.
    */
  private val customerBlockingRules = BlockingRules(Seq(
    EquiKeys(Map("c_nationkey" -> "c_nationkey", "c_mktsegment" -> "c_mktsegment")),
    ComputedKeys(Seq(
      ("acctbal_r", round(col("c_acctbal_left")), round(col("c_acctbal_right")))),
    ),
    // F5: substring prefix pass (the reference's first-initial
    // blocking, scratch.R:25) on the name's trailing digits.
    ComputedKeys(Seq(
      ("name_sfx", substring(col("c_name_left"), 17, 2), substring(col("c_name_right"), 17, 2))))))

  private def customerBlocking(c: DataFrame): DataFrame =
    customerBlockingSized(c)._1

  /** [[customerBlocking]] plus the blocked-pair estimate that sizes
    * every pair-scale exchange downstream (round-16, SPILL_PROBE_r15
    * productization): [[Blocking.estimatePairs]] is byte-gated — None
    * at bench scale (customer.parquet ≪ 8 MB; plans unchanged), a
    * cheap dimension-scale pre-flight at probe/production scale.
    */
  private def customerBlockingSized(c: DataFrame): (DataFrame, Option[Long]) = {
    val est = Blocking.estimatePairs(c, c, customerBlockingRules, selfLinkage = true)
    (Blocking.extractBlocks(c, c, "c_custkey", "c_custkey", customerBlockingRules,
      selfLinkage = true), est)
  }

  private val customerBlockingOracle: String =
    """WITH ids AS (
      |  SELECT a.c_custkey AS c_custkey_left, b.c_custkey AS c_custkey_right
      |  FROM customer a JOIN customer b
      |    ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
      |  UNION
      |  SELECT a.c_custkey, b.c_custkey
      |  FROM customer a JOIN customer b
      |    ON round(a.c_acctbal) = round(b.c_acctbal)
      |  UNION
      |  SELECT a.c_custkey, b.c_custkey
      |  FROM customer a JOIN customer b
      |    ON substr(a.c_name, 17, 2) = substr(b.c_name, 17, 2)
      |)
      |SELECT * FROM ids WHERE c_custkey_left < c_custkey_right""".stripMargin

  private def customerComparators: Seq[Comparator] =
    Comparators.exact(Seq("c_nationkey")) ++ Comparators.jaroWinkler(Seq("c_name"))

  private val customerComparatorsSql: String =
    """CASE WHEN a.c_nationkey = b.c_nationkey THEN 'agree'
      |     WHEN a.c_nationkey <> b.c_nationkey THEN 'disagree' END AS c_nationkey,
      |CASE WHEN jaro_winkler_similarity(a.c_name, b.c_name) = 1 THEN 'full agreement'
      |     WHEN jaro_winkler_similarity(a.c_name, b.c_name) > 0.9 THEN 'strong partial agreement'
      |     WHEN jaro_winkler_similarity(a.c_name, b.c_name) > 0.85 THEN 'weak partial agreement'
      |     ELSE 'no agreement' END AS c_name""".stripMargin

  // ---- query definitions -------------------------------------------

  private def qLineitemAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        avg(col("l_quantity")).as("avg_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))

  private def qBlockEqui(s: SparkSession, dir: String): DataFrame =
    customerBlocking(t(s, dir, "customer"))

  /** J2 raw-`Predicate` pass: a genuinely non-equi blocking condition
    * (|Δacctbal| < 1000) over a nation-filtered slice — the reference's
    * `blocking_expressions` cross-join path (linking.R:28-29), which
    * ComputedKeys can't express. Kept deliberately small-side: the
    * cross product is O(n²) by definition, so the operator contract is
    * "pre-filter to a driver-reasonable slice first". The threshold is
    * wide enough to yield a three-digit row count at sf0.01 — the
    * round-2 |Δ| < 1 band matched the oracle on the EMPTY set, which
    * exercised nothing.
    */
  private def qBlockPredicate(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_nationkey") === 1)
    Blocking.extractBlocks(c, c, "c_custkey", "c_custkey",
      BlockingRules(Seq(Predicate(
        abs(col("c_acctbal_left") - col("c_acctbal_right")) < 1000.0))),
      selfLinkage = true)
  }

  /** W1 row_number id synthesis on its own oracle row — over a
    * driver-sized table (nation, 25 rows), which is the ONLY shape a
    * global row_number window is legitimate for (single-partition
    * sort); large tables sample by key instead (see q_u_probs).
    */
  private def qSyntheticId(s: SparkSession, dir: String): DataFrame =
    UProbs.withSyntheticId(t(s, dir, "nation"), "synthetic_id", "n_nationkey")
      .select(col("synthetic_id").cast("long").as("synthetic_id"),
        col("n_nationkey"), col("n_name"))

  private def qPairsAssembly(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val (ids, est) = customerBlockingSized(c)
    Pairs.computePairsDataset(c, c, "c_custkey", "c_custkey", ids, est)
      .select("c_custkey_left", "c_custkey_right",
        "c_name_left", "c_name_right", "c_mktsegment_left", "c_mktsegment_right")
  }

  private def qPatternCounts(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val (ids, est) = customerBlockingSized(c)
    Pairs.patternCounts(c, c, "c_custkey", "c_custkey", ids, customerComparators, est)
  }

  private def qJwLevels(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val rules = BlockingRules(Seq(EquiKeys("p_brand")))
    val est = Blocking.estimatePairs(p, p, rules)
    val ids = Blocking.extractBlocks(p, p, "p_partkey", "p_partkey", rules)
    val pairs = Pairs.computePairsDataset(p, p, "p_partkey", "p_partkey", ids, est)
    Comparators.doComparisons(pairs, Comparators.jaroWinkler(Seq("p_name")))
      .groupBy("p_name").agg(count(lit(1)).as("n"))
  }

  private val uSampleSize = 100000L
  private val uSeed = 42L

  /** Scale path for u-estimation: the LCG picks land in the key's
    * MEASURED domain [min, max] and INNER-join directly on the primary
    * key — no global row_number sort anywhere in the plan, no
    * NULL-padded rows reaching the comparators (a left join would let
    * NULL-coalescing comparators fabricate "no agreement" counts).
    * Sparse keys only thin the sample, never bias surviving rows.
    * [[UProbs.withSyntheticId]] remains for tables without a usable
    * numeric key (see q_synthetic_id).
    */
  private def qUProbs(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val pairs = UProbs.samplePairsByKey(c, c, "c_custkey", "c_custkey", uSampleSize, uSeed)
    UProbs.uProbsLong(pairs, customerComparators)
  }

  private def qUProbsOracle(nRowsSql: String): String =
    s"""WITH n AS (SELECT min(c_custkey) AS mn,
       |             max(c_custkey) - min(c_custkey) + 1 AS cnt FROM customer),
       |pairs AS (
       |  SELECT ${UProbs.lcgSql("t.i", "n.cnt", 0L, uSeed, 48271L)} + n.mn - 1 AS sid_left,
       |         ${UProbs.lcgSql("t.i", "n.cnt", 1000003L, uSeed, 69621L)} + n.mn - 1 AS sid_right
       |  FROM range($uSampleSize) AS t(i), n
       |),
       |compared AS (
       |  SELECT $nRowsSql
       |  FROM pairs
       |  JOIN customer a ON pairs.sid_left = a.c_custkey
       |  JOIN customer b ON pairs.sid_right = b.c_custkey
       |),
       |longf AS (
       |  SELECT 'c_nationkey' AS name, c_nationkey AS value FROM compared
       |  UNION ALL
       |  SELECT 'c_name', c_name FROM compared
       |)
       |SELECT name, value, count(*) AS n,
       |       count(*) / (sum(count(*)) OVER (PARTITION BY name) + 0.0) AS p
       |FROM longf WHERE value IS NOT NULL
       |GROUP BY name, value""".stripMargin

  // ---- wave 2: scoring + relational coverage (SURVEY §2) -----------

  /** Fixed m/u tables for the deterministic scoring query (the EM fit
    * itself is covered by unit/golden tests — scoring compilation is
    * what the oracle checks here).
    */
  private val scoringTables: Seq[(String, Map[String, Double], Map[String, Double])] = Seq(
    ("c_nationkey",
      Map("agree" -> 0.9, "disagree" -> 0.1),
      Map("agree" -> 0.04, "disagree" -> 0.96)),
    ("c_name",
      Map("full agreement" -> 0.5, "strong partial agreement" -> 0.3,
        "weak partial agreement" -> 0.15, "no agreement" -> 0.05),
      Map("full agreement" -> 0.001, "strong partial agreement" -> 0.1,
        "weak partial agreement" -> 0.2, "no agreement" -> 0.699)))

  private def dictSql(field: String, dict: Map[String, Double]): String =
    dict.toSeq.sortBy(_._1)
      .map { case (l, v) => s"WHEN $field = '$l' THEN CAST($v AS DOUBLE)" }
      .mkString("CASE ", " ", " ELSE NULL END")

  private def weightSql(tables: Seq[(String, Map[String, Double], Map[String, Double])]): String =
    // ln(m) − ln(u), mirroring Scoring.weightExpression's
    // division-free form; the 6-dp round on both sides absorbs any
    // last-ulp drift between the two spellings.
    tables.map { case (f, m, u) =>
      s"(CASE WHEN $f IS NOT NULL THEN ln(${dictSql(f, m)}) - ln(${dictSql(f, u)}) ELSE CAST(0 AS DOUBLE) END)"
    }.mkString(" + ")

  /** Scoring: compile m/u → weight expression, score all blocked pairs,
    * threshold (scratch.R:106-130). Weight rounded to 6 dp on both
    * sides: JVM Math.log and libm log may differ in the last ulp.
    */
  private def qScoring(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val (ids, est) = customerBlockingSized(c)
    val pairs = Pairs.computePairsDataset(c, c, "c_custkey", "c_custkey", ids, est)
    val values = Comparators.doComparisons(pairs, customerComparators,
      keep = Seq("c_custkey_left", "c_custkey_right"))
    values
      .withColumn("weight", Scoring.weightExpression(scoringTables))
      .filter(col("weight") > 2.5)
      .select(col("c_custkey_left"), col("c_custkey_right"),
        round(col("weight"), 6).as("weight"))
  }

  /** Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`), rounded to 6 dp: the interpolation formulas are
    * algebraically equivalent but associate differently, so the last
    * ulp can differ.
    */
  private def qQuantiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 6).as("p25_qty"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.75)"), 6).as("p75_qty"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50_price"))

  /** Hierarchical rollup totals (count/min/max only — no
    * order-dependent float accumulation).
    */
  private def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** Incremental dedup: every 10th document plays the NEW BATCH, the
    * rest the existing corpus; exact cross-only Jaccard ≥ 0.5 via
    * [[graft.ops.Dedup.crossJaccardPairsExact]] (corpus-side hot
    * shingles capped at 50 docs, same trade as q_jaccard_exact). No
    * corpus×corpus pair is ever materialized.
    */
  private def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Dedup.crossJaccardPairsExact(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", col("text"), n = 3, minJaccard = 0.5, maxDocFreq = Some(50L))
  }

  /** One measured id envelope per fixture dir (see [[qBitmapDistinct]]);
    * concurrent-safe because the bench/verify mains build queries from
    * multiple call sites against the same dir.
    */
  private val bitmapEnvelopeByDir =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Exact per-group distinct counting through the typed Aggregator
    * (UDAF) surface ([[graft.expr.BitmapDistinct]]): one pass,
    * map-side partials, fixed 188 KB bitmap buffer per group instead
    * of `count(DISTINCT)`'s value de-dup shuffle; merge is bytewise
    * OR, so the result is deterministic under any merge order — and
    * must equal the oracle's COUNT(DISTINCT) exactly.
    */
  private def qBitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    // The id ENVELOPE is a registration-time property of the table,
    // not a compile-time constant: discover it with one column-pruned
    // max() over the key (sub-second even at the sf1 fixture; at real
    // scale this is parquet-footer metadata a catalog would cache).
    // A floor of 1.5M keeps the buffer shape identical to the r12
    // contract at the driver scales; the sf1 fixture's replica-offset
    // keys (max ≈ 9.01M → a 1.13 MB bitmap) now size the bitmap
    // instead of tripping the loud out-of-envelope refusal — the
    // refusal stays live for ids outside the MEASURED domain.
    val orders = t(s, dir, "orders")
    // Cached per dir: query CONSTRUCTION used to run the max() job
    // every time the frame was merely built (plan inspection, registry
    // enumeration) — once per fixture dir is the catalog-metadata
    // behavior the scaladoc promises. NULL max (empty orders) takes
    // the floor instead of an NPE at construction time. A fixture
    // rebuilt in place with LARGER ids would hit the stale cache —
    // and then the aggregator's out-of-envelope loud refusal, never a
    // silent wrong count.
    val maxKey = bitmapEnvelopeByDir.getOrElseUpdate(dir, {
      val row = orders.agg(max(col("o_custkey"))).head()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    })
    val envelope = math.max(1500000L, maxKey)
    orders.groupBy("o_orderpriority")
      .agg(graft.expr.BitmapDistinct.bitmapDistinct(envelope)(col("o_custkey"))
          .as("n_distinct_cust"),
        count(lit(1)).as("n_rows"))
  }

  /** Full CUBE (all 2² grouping sets in ONE Expand + hash aggregate —
    * the subtotal lattice a reporting layer wants without four
    * scans); count/min/max only, like [[qRollup]].
    */
  private def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  private def qWindowFraction(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Whole-frame sum over the aggregated (event_type, n) table —
    // #event-types rows, single partition BY DESIGN (the
    // Windows.pinnedOrderBy contract; its WindowExec WARN is expected).
    t(s, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .withColumn("p", col("n") / sum("n").over(Window.partitionBy()))
  }

  private def qTopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_nationkey").distinct()
    val machinery = c.filter(col("c_mktsegment") === "MACHINERY").select("c_nationkey").distinct()
    building.intersect(machinery).withColumn("tag", lit("both"))
      .unionByName(building.except(machinery).withColumn("tag", lit("building_only")))
  }

  /** F4: NA-safe set membership — R `%in%` is NA-safe, SQL IN is not;
    * the engine idiom is coalesce(x IN (...), false).
    */
  private def qNaSafeIn(s: SparkSession, dir: String): DataFrame = {
    val st = expr("nullif(o_orderstatus, 'P')")
    t(s, dir, "orders")
      .withColumn("flag",
        when(!coalesce(st.isin("O", "F"), lit(false)), "na_or_other").otherwise("known"))
      .groupBy("flag").agg(count(lit(1)).as("n"))
  }

  private def qStackLong(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .selectExpr("stack(2, 'o_orderstatus', o_orderstatus, 'o_orderpriority', o_orderpriority) as (name, value)")
      .groupBy("name", "value").agg(count(lit(1)).as("n"))

  /** S2 + broadcast: driver-created lookup table broadcast-joined to
    * the fact table (the `copy_to` analogue at scale: broadcast, don't
    * shuffle the 100 TB side).
    */
  private def qBroadcastLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lookup = Seq(("A", "returned"), ("N", "active"), ("R", "refunded"))
      .toDF("l_returnflag", "label")
    t(s, dir, "lineitem")
      .join(broadcast(lookup), Seq("l_returnflag"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
  }

  private def qPartitionedWrite(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("pw")
    graft.etl.Etl.writePartitioned(t(s, dir, "orders"), tmp, Seq("o_orderpriority"))
    graft.etl.Etl.readPartitioned(s, tmp)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
  }

  /** Dynamic partition overwrite: full partitioned write, then
    * re-write ONLY the '1-URGENT' partition with its even-keyed half.
    * Reading back proves the overwritten partition changed while every
    * other partition survived — static overwrite would have truncated
    * them (and the counts would scream).
    */
  private def qPartitionOverwrite(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("dpo")
    val orders = t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
    graft.etl.Etl.writePartitioned(orders, tmp, Seq("o_orderpriority"))
    graft.etl.Etl.overwritePartitions(
      orders.filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 2 === 0),
      tmp, Seq("o_orderpriority"))
    graft.etl.Etl.readPartitioned(s, tmp)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), min("o_orderkey").as("min_key"))
  }

  /** Range-sorted layout + data-skipping read: lineitem written
    * range-partitioned/sorted on l_orderkey, then a narrow key-range
    * scan with the filter pushed to the parquet reader — disjoint
    * per-file min/max stats skip all other files/row-groups (plan
    * evidence: docs/EXPLAIN_range_pruned_r05.txt).
    */
  private def qRangePruned(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("rng")
    graft.etl.Etl.writeRangeSorted(
      t(s, dir, "lineitem").select("l_orderkey", "l_quantity", "l_extendedprice"),
      tmp, "l_orderkey", nFiles = 16)
    s.read.parquet(tmp)
      .filter(col("l_orderkey").between(1000, 2000))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
  }

  /** Z-ordered layout roundtrip: lineitem written Morton-interleaved
    * on (l_orderkey, l_partkey), read back through a conjunctive 2-d
    * range predicate, aggregated. Equality with the direct oracle
    * filter proves the layout is semantics-free; the EtlSpec box test
    * proves it skips files on BOTH columns.
    */
  private def qZorderPruned(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("z")
    graft.etl.Etl.writeZOrdered(
      t(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity"),
      tmp, Seq("l_orderkey", "l_partkey"), nFiles = 16)
    s.read.parquet(tmp)
      .filter(col("l_orderkey").between(1000, 3000) &&
        col("l_partkey").between(100, 900))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
        min(col("l_orderkey")).as("min_ok"), max(col("l_partkey")).as("max_pk"))
  }

  /** JSONL roundtrip: documents → JSON lines on disk → read back with
    * an explicit schema → aggregate; equality with the direct oracle
    * aggregation proves write/read fidelity (escaping, unicode,
    * schema). Counts and integer sums only.
    */
  private def qJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("jsonl")
    graft.etl.Etl.writeJsonl(t(s, dir, "documents").select("doc_id", "text"), tmp)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")
    graft.etl.Etl.readJsonl(s, tmp, Some(schema))
      .agg(count(lit(1)).as("n"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"),
        sum(length(col("text"))).as("sum_chars"))
  }

  /** Bucketed-table co-located join: both sides bucketed by the join
    * key into the same bucket count → the join runs with NO exchange
    * on either side (plan evidence: docs/EXPLAIN_bucketed_r03.txt).
    * Aggregates use count/min/max only — no order-dependent float
    * accumulation.
    */
  private def qBucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("bkt")
    graft.etl.Etl.writeBucketed(
      t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
      "bkt_customer", s"$tmp/customer", "c_custkey", 8, Some("c_custkey"))
    graft.etl.Etl.writeBucketed(
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
      "bkt_orders", s"$tmp/orders", "o_custkey", 8, Some("o_custkey"))
    val c = graft.etl.Etl.readBucketed(s, "bkt_customer")
    val o = graft.etl.Etl.readBucketed(s, "bkt_orders")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").as("min_price"), max("o_totalprice").as("max_price"))
  }

  /** ANN recall report: multi-table LSH near-dup pairs measured
    * against the exact brute-force ground truth on a slice — the
    * metric that gates an approximate index replacing an exact path.
    * The single-table (planes=8) config this evaluator first exposed
    * finds ~1.7% of true pairs at cosine 0.4; (planes=4, tables=16)
    * is the 1−(1−p⁴)¹⁶ ≈ 94% configuration.
    */
  private val RecallPlanes = 4
  private val RecallTables = 16

  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val slice = t(s, dir, "embeddings").filter(col("vec_id") < 500)
    val exact = graft.ops.Similarity.bruteForceNearDups(slice, "vec_id", "embedding", minCosine = 0.4)
    val approx = graft.ops.Similarity.lshNearDups(
      slice, "vec_id", "embedding", planes = RecallPlanes, minCosine = 0.4,
      maxBucketSize = Some(LshCap), tables = RecallTables)
    graft.ops.Similarity.pairRecall(exact, approx)
  }

  private def qTsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("tsv")
    t(s, dir, "events").select("event_id", "event_type", "value")
      .write.mode("overwrite").option("sep", "\t").option("header", "true").csv(tmp)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, event_type STRING, value DOUBLE")
    graft.etl.Etl.readTsv(s, tmp, Some(schema))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min("event_id").as("min_id"), max("event_id").as("max_id"),
        min("value").as("min_value"), max("value").as("max_value"))
  }

  // ---- wave 3: training-data pipeline ops (dedup / similarity / text)

  /** LSH params for the wired Jaccard query, DERIVED from its own
    * threshold (minJaccard = 0.5) for a ≥90% recall floor AT the
    * threshold — with the old fixed (k=8, bands=4), recall at J=0.5
    * was only ~68%. Deriving here and inside
    * [[graft.ops.Dedup.ngramJaccardPairs]] from the same pure function
    * keeps Spark and the oracle CTE structurally identical.
    */
  private val JacMinJaccard = 0.5
  private val (jacK, jacBands) = graft.ops.Dedup.lshParams(JacMinJaccard)

  /** Bucket/doc-frequency caps ACTIVE in every wired LSH query (the
    * degenerate-corpus guard is now oracle-exercised, not default-off);
    * chosen not to bind on this corpus so round-over-round results are
    * comparable — binding or not, both engines mirror it.
    */
  private val LshCap = 100L

  /** DuckDB CTE chain ending in `cand(id_a, id_b)`: minhash-LSH
    * candidates over `documents` with n=3 and the given (k, bands,
    * bucket cap) — the oracle mirror of
    * [[graft.ops.Dedup.minhashLshCandidates]], reused by
    * q_minhash_lsh, q_ngram_jaccard, and q_dedup_clusters.
    */
  private def minhashCandCtes(k: Int, bands: Int, cap: Option[Long]): String = {
    val r = k / bands
    val sigp = (0 until k).map(i => s"max(CASE WHEN i = $i THEN sig END) AS sig_$i").mkString(", ")
    val bandsSql = (0 until bands).map { j =>
      val digest = (0 until r).map(x => s"CAST(sig_${j * r + x} AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $j AS band, md5($digest) AS digest FROM sigp"
    }.mkString(" UNION ALL ")
    val capped = cap.fold("SELECT * FROM bands0")(c =>
      s"SELECT * FROM bands0 QUALIFY count(*) OVER (PARTITION BY band, digest) <= $c")
    s"""sh AS (
       |  SELECT doc_id, list_distinct(${graft.ops.Dedup.shinglesSql("text", 3)}) AS shl
       |  FROM documents),
       |shf AS (SELECT * FROM sh WHERE len(shl) > 0),
       |sig AS (
       |  SELECT doc_id, r.i AS i,
       |    min(((${graft.ops.Dedup.shingleBaseHashSql("u.s")}) * (2 * r.i + 1001) + (r.i * 9176 + 17)) % 2147483647) AS sig
       |  FROM shf, unnest(shf.shl) AS u(s), range($k) AS r(i)
       |  GROUP BY doc_id, r.i),
       |sigp AS (SELECT doc_id, $sigp FROM sig GROUP BY doc_id),
       |bands0 AS ($bandsSql),
       |bands AS ($capped),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.digest = b.digest
       |  WHERE a.doc_id < b.doc_id)""".stripMargin
  }

  private def qTextStats(s: SparkSession, dir: String): DataFrame = {
    val d = graft.util.Parallelism.ensure(t(s, dir, "documents"))
    val quality = graft.ops.TextAnalysis.qualityColumns(col("text"))
    d.select(
      Seq(col("doc_id")) ++
      quality.map { case (n, c) =>
        // int-typed counts → long so the schema matches DuckDB's BIGINT
        (if (n == "n_chars" || n == "n_tokens") c.cast("long") else c).as(n)
      } ++ Seq(
        graft.ops.TextAnalysis.tokenCountRegex(col("text")).cast("long").as("n_tokens_bpe"),
        graft.ops.TextAnalysis.languageId(col("text")).as("lang_id"),
        graft.ops.TextAnalysis.fingerprint(col("text")).as("fingerprint")): _*)
  }

  /** Gopher-style repetition metrics (word granularity) per document —
    * map-only, codegen'd top-token kernel.
    */
  private def qRepetition(s: SparkSession, dir: String): DataFrame = {
    val d = graft.util.Parallelism.ensure(t(s, dir, "documents"))
    val cols = graft.ops.TextAnalysis.repetitionColumns(col("text"))
    d.select((col("doc_id") +: cols.map { case (n, c) => c.as(n) }): _*)
  }

  /** Train/eval decontamination: benchmark = every 20th doc, corpus =
    * the rest; flags corpus docs sharing ≥ 5 distinct 3-gram
    * shingles with the benchmark union (broadcast bench-side semi
    * join — the corpus is scanned once, never pair-exploded).
    */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Decontaminate.overlapReport(
      docs.filter(col("doc_id") % 20 =!= 0), "doc_id", col("text"),
      docs.filter(col("doc_id") % 20 === 0), col("text"),
      n = 3, minOverlap = 5L)
  }

  /** Quality-aware cluster keeper: same LSH candidate graph as
    * q_dedup_clusters, but keep the LONGEST text per cluster (tie →
    * min id) — struct-min aggregate, no corpus-wide window sort.
    */
  private def qDedupBest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cand = graft.ops.Dedup.minhashLshCandidates(
      docs, "doc_id", col("text"), n = 3, k = 8, bands = 4,
      maxBucketSize = Some(LshCap))
    graft.ops.Clusters.resolveDuplicatesBy(
      docs.select("doc_id", "text"), "doc_id", length(col("text")), cand)
  }

  /** Deterministic hash sample: ~10% of documents by md5 bucket —
    * stable across partitioning/layout, unlike df.sample().
    */
  private def qHashSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.hashSample(
      t(s, dir, "documents").select("doc_id"), col("doc_id"), permille = 100)

  /** Rarity keywords: 3 globally-rarest tokens per document — integer-
    * exact TF-IDF ranking (no float log to diverge between engines).
    */
  private def qRareTokens(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.rareTokens(t(s, dir, "documents"), "doc_id", col("text"), k = 3)

  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.exactSummary(t(s, dir, "documents"), col("text"))

  /** Exact-dup keep-list: (doc_id, digest, keep) — keep = min doc_id
    * per digest, the one-liner a corpus prune actually filters on.
    */
  private def qDedupKeeplist(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.exactDuplicates(t(s, dir, "documents"), "doc_id", col("text"))

  private def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.ngramJaccardPairs(
      t(s, dir, "documents"), "doc_id", col("text"), n = 3, minJaccard = JacMinJaccard,
      maxBucketSize = Some(LshCap))

  /** 100%-recall Jaccard via the inverted index (with the
    * doc-frequency cap active) — the completeness-first alternative to
    * the LSH-bounded path, and the oracle exercise of
    * [[graft.ops.Dedup.invertedIndex]].
    */
  private def qJaccardExact(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.ngramJaccardPairsExact(
      t(s, dir, "documents"), "doc_id", col("text"), n = 3, minJaccard = JacMinJaccard,
      maxDocFreq = Some(50L))

  /** Prefix-filtered EXACT Jaccard: same threshold as q_jaccard_exact
    * but UNCAPPED — the prefix filter replaces the doc-frequency cap,
    * so the oracle is the full co-occurrence join with no QUALIFY
    * truncation and the result has no undercount caveat. Equality
    * here is the recall proof of the prefix lemma on real data.
    */
  private def qJaccardPrefix(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.ngramJaccardPairsPrefix(
      t(s, dir, "documents"), "doc_id", col("text"), n = 3, minJaccard = JacMinJaccard)

  /** The STANDING-CORPUS amortization of q_jaccard_prefix: the shingle
    * frequency table is snapshotted on a deterministic HALF of the
    * corpus (even doc_ids) — stale and missing shingles by
    * construction — and ROUND-TRIPPED THROUGH PARQUET
    * ([[graft.etl.Etl.writeShingleFrequencies]] →
    * `readShingleFrequencies` → `standingFreq`), so the oracle row
    * gates the actual cross-run persistence path end-to-end: a
    * format/schema drift of the `(shingle, df)` snapshot fails here,
    * not in production. The oracle is IDENTICAL to q_jaccard_prefix:
    * the prefix lemma holds under any total order, so a stale ranking
    * changes candidate cost, never the result.
    *
    * The snapshot is written ONCE per scale dir (sentinel-guarded,
    * like the ScaleProbe fixture) — that IS the standing-corpus
    * contract being modeled: the frequency table is built offline and
    * AMORTIZED across runs, so bench re-runs pay only the read + the
    * ranked join (r12 measured the write at ~2.7 s of the query's
    * 7.1 s under a write-every-run regime). The read-side schema
    * assertion and the oracle equality still gate drift on every run.
    */
  private def qJaccardStanding(s: SparkSession, dir: String): DataFrame = {
    val sh = graft.ops.Dedup.shingleSets(
      t(s, dir, "documents"), "doc_id", col("text"), 3)
    // The snapshot key folds a CONTENT FINGERPRINT of the corpus
    // (every file's name/length/mtime under documents.parquet) into
    // the path, not just dir.hashCode: a fixture rebuild (new part
    // files, same dir) invalidates the snapshot and re-exercises the
    // gated write path instead of silently reusing stale frequencies.
    val docsFp = {
      val root = new java.io.File(s"$dir/documents.parquet")
      val parts: Array[java.io.File] =
        if (root.isDirectory) Option(root.listFiles()).getOrElse(Array(root)) else Array(root)
      parts.map(f => f.getName.hashCode.toLong ^ f.length() ^ f.lastModified()).sum
    }
    // The key also folds in the session's core count: the snapshot is
    // shared across bench invocations by design (that IS the standing
    // contract), but the driver benches the SAME tree at different
    // SPARK_GRAFT_CPUS to measure scaling, and a snapshot written by
    // the 32-core run made the later 8-core run look 3.6× faster than
    // it is (round-15 scaling ratio 0.28 — an artifact, not a speedup).
    // Per-core-count keys give every scaling configuration its own
    // amortized write, so 8-vs-32 ratios compare like with like.
    val snapshot =
      s"$scratchBase/graft_standing_freq_${math.abs(dir.hashCode.toLong)}_${java.lang.Long.toHexString(docsFp)}_c${s.sparkContext.defaultParallelism}"
    val sentinel = new java.io.File(s"$snapshot/_SNAPSHOT_DONE")
    if (!sentinel.exists) {
      graft.etl.Etl.writeShingleFrequencies(
        graft.ops.Dedup.shingleDocFrequencies(sh.filter(col("id") % 2 === 0)),
        snapshot)
      sentinel.createNewFile()
    }
    val standing = graft.etl.Etl.readShingleFrequencies(s, snapshot)
    graft.ops.Dedup.ngramJaccardPairsPrefixFromShingles(
      sh, minJaccard = JacMinJaccard, standingFreq = Some(standing))
  }

  private def qMinhashLsh(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.minhashLshCandidates(
      t(s, dir, "documents"), "doc_id", col("text"), n = 3, k = 8, bands = 4,
      maxBucketSize = Some(LshCap))

  /** The STREAMING incremental LSH sink run END-TO-END as a driver-
    * visible surface (the continuous-ingest form of q_minhash_lsh):
    * the corpus is replayed as a file stream in 4 micro-batches
    * (`maxFilesPerTrigger`), [[graft.streaming.Streams
    * .incrementalLshCandidates]] maintains the inverted band index in
    * `flatMapGroupsWithState` state, and a `foreachBatch` sink
    * appends each batch's (deduped) candidates to parquet — the
    * production wiring: stream → state → accumulated candidate table.
    * The accumulated table, canonicalized to `id_a < id_b` and
    * distinct'd across batches (the stream emits per-(band,digest),
    * see the operator's multiplicity contract), must EQUAL the batch
    * q_minhash_lsh set — same oracle SQL, the strongest
    * stream-equals-batch artifact the driver can check. Equality is
    * exact because no band bucket on this corpus approaches the cap
    * (measured max bucket = 8 members vs cap 100 at sf0.001/0.01/0.1;
    * cap semantics are the one documented stream/batch divergence).
    */
  private def qStreamLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Scratch lives under [[scratchBase]] (round-15: /tmp is the
    // throttled virtio device on this VM — the checkpoint's state
    // store + offset/commit logs fsync per micro-batch and were the
    // query's hidden device-I/O tax; production checkpoints live on
    // distributed storage, so tmpfs is the honest local stand-in).
    val base = s"$scratchBase/graft_stream_lsh_${math.abs(dir.hashCode.toLong)}"
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true) // fresh state per run
    val (src, sink, chk) = (s"$base/source", s"$base/pairs", s"$base/checkpoint")
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.repartition(8).write.parquet(src)
    // Seed the sink with the empty typed frame so a pair-free corpus
    // still reads back with the right schema.
    s.emptyDataset[graft.streaming.Streams.LshCandidate].toDF()
      .write.mode("overwrite").parquet(sink)
    val stream = s.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "2").parquet(src)
    val q = graft.streaming.Streams.incrementalLshCandidates(
        stream, "doc_id", col("text"), n = 3, k = 8, bands = 4,
        maxBucketSize = LshCap)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.Streams.LshCandidate], _: Long) =>
        batch.dropDuplicates("id_new", "id_corpus")
          .write.mode("append").parquet(sink)
      }
      .start()
    q.awaitTermination()
    s.read.parquet(sink)
      .select(least(col("id_new"), col("id_corpus")).as("id_a"),
        greatest(col("id_new"), col("id_corpus")).as("id_b"))
      .distinct()
  }

  /** SimHash near-dups at 60 bits / 15-bit pigeonhole bands: the
    * sf1 probe measured time_x 50 at rows_x 24 for the old 32-bit/
    * 8-bit-band shape — 256-key bands saturate once the corpus is
    * tens of thousands of docs and every bucket goes quadratic. At
    * 2¹⁰ keys per band the expected random bucket stays small through
    * ~10⁵ docs, and the LSH-style hot-bucket cap bounds adversarial
    * skew (identical-fingerprint floods) on top. Radius 5 of 60 bits:
    * the corpus's pairwise-hamming histogram has a planted near-dup
    * shelf at h ≤ 5 (~56 pairs at sf0.01) with the random background
    * only starting at h ≥ 7 — radius 3/60 kept 13 pairs and cut the
    * shelf in half.
    */
  private def qSimhash(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.simhashNearDups(
      t(s, dir, "documents"), "doc_id", col("text"), maxHamming = 5,
      bits = 60, maxBucketSize = Some(LshCap))
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))

  /** Duplicate-cluster resolution: LSH candidate pairs → connected
    * components → one keeper per cluster (min doc id). The output a
    * corpus-pruning pipeline actually consumes.
    */
  private def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cand = graft.ops.Dedup.minhashLshCandidates(
      docs, "doc_id", col("text"), n = 3, k = 8, bands = 4,
      maxBucketSize = Some(LshCap))
    graft.ops.Clusters.resolveDuplicates(docs.select("doc_id"), "doc_id", cand)
  }

  private def qAnnTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.ops.Similarity.bruteForceTopK(
      e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rank").cast("long").as("rank"))
  }

  private def qLshNearDups(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.lshNearDups(
      t(s, dir, "embeddings"), "vec_id", "embedding", planes = 8, minCosine = 0.4,
      maxBucketSize = Some(LshCap))

  private val EmbDim = 64

  // ---- wave 4: multimodal plumbing + event-time windows ------------

  private def qMultimodalStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.mediaStats(t(s, dir, "documents"), "doc_id", "text")

  private def qEventWindow(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.windowedCounts(t(s, dir, "events"))

  /** J5: left join with key rename (ground-truth attach shape,
    * scratch.R:131-132).
    */
  private def qRenameJoin(s: SparkSession, dir: String): DataFrame = {
    val truth = t(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_mktsegment"))
    t(s, dir, "orders")
      .join(truth, Seq("o_custkey"), "left")
      .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment")
  }

  /** F11: exact comparator over date/timestamp values. */
  private def qDateExact(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val a = Suffix.addSuffix(o, "_left")
    val b = Suffix.addSuffix(o, "_right")
    a.join(b, a("o_custkey_left") === b("o_custkey_right") &&
        a("o_orderkey_left") < b("o_orderkey_right"))
      .select(when(col("o_orderdate_left") === col("o_orderdate_right"), "agree")
        .otherwise("disagree").as("date_cmp"))
      .groupBy("date_cmp").agg(count(lit(1)).as("n"))
  }

  /** IVF ANN: one map-only assignment scan (codegen argmax-cosine),
    * probe the 2 nearest of 8 seed centroids per query, exact top-5
    * within the probed lists. Seed centroids are the 8 smallest
    * vec_ids (contiguous from 0 in the fixtures), so the oracle's
    * `vec_id < 8` slice is the same set in the same index order.
    */
  private def qIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cents = graft.ops.Similarity.seedCentroids(e, "vec_id", "embedding", 8)
    graft.ops.Similarity.ivfTopK(e, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", cents, k = 5, nprobe = 2)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rank").cast("long").as("rank"))
  }

  /** K-means centroid refinement
    * ([[graft.ops.Similarity.kmeansCentroidsMicro]]): 3 Lloyd's rounds
    * over the embeddings in integer micro-units — quantize once,
    * integer squared-Euclidean argmin, truncating-mean update — so
    * the full iterative clustering chain is hash-checked against the
    * DuckDB CTE pyramid (the last non-oracle'd ANN stage).
    */
  private def qKmeans(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.kmeansCentroidsMicro(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      k = 8, dim = EmbDim, rounds = 3)

  /** Product-quantization ADC top-5 ([[graft.ops.Similarity.pqTopK]]):
    * 4 subspaces × 4 codewords (2 micro-k-means rounds each) over the
    * embeddings, 8 query vectors — the memory-bound ANN
    * representation (m codes per vector instead of dim floats)
    * searched by exact integer asymmetric distance, hash-identical
    * to the oracle's codebook/encode/ADC CTE chain.
    */
  private def qPqTopK(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.pqTopK(
      t(s, dir, "embeddings"), (0L until 8L).toSeq, "vec_id", "embedding",
      dim = EmbDim, m = 4, ksub = 4, rounds = 2, k = 5)

  /** IVF-PQ search ([[graft.ops.Similarity.ivfPqTopK]]): the
    * billion-scale serving stack — 8-list coarse router (2 Lloyd's
    * rounds), nprobe=3, the q_pq_topk codebooks, ADC over codes of
    * probed lists only; work per query ≈ 3/8 of the flat PQ scan.
    * Hash-identical to the oracle's coarse pyramid + probe list + PQ
    * pyramid + restricted-ADC CTE chain.
    */
  private def qIvfPqTopK(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.ivfPqTopK(
      t(s, dir, "embeddings"), (0L until 8L).toSeq, "vec_id", "embedding",
      dim = EmbDim, kCoarse = 8, coarseRounds = 2, nprobe = 3,
      m = 4, ksub = 4, rounds = 2, k = 5)

  /** Left anti join — the "rows with NO match" core operator:
    * customers who never placed an URGENT order, per segment (the
    * unfiltered FK relations are dense in this generator, so the
    * predicate keeps the row non-vacuous). Spark plans it as a
    * broadcast/shuffled hash anti join; the oracle is the NOT EXISTS
    * form.
    */
  private def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers_no_orders"),
        min("c_custkey").as("min_custkey"),
        max("c_custkey").as("max_custkey"))
  }

  /** Token-budget corpus selection
    * ([[graft.ops.Sampling.tokenBudget]]): per source, keep the
    * highest-quality docs (distinct-token-ratio ppm, doc-id
    * tie-break) while their running token total stays within 40% of
    * the source's tokens — the budgeted-mix step after quality
    * scoring. Summary row per source; the keep flag itself is the
    * 100 TB filter.
    */
  private def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr("filter(split(text, ' '), x -> x <> '')").as("__ts"))
      .filter(size(col("__ts")) >= 1)
      .select(col("doc_id"), col("source"),
        size(col("__ts")).cast("long").as("n_toks"),
        expr("(size(array_distinct(__ts)) * 1000000L) div size(__ts)").as("q"))
    graft.ops.Sampling.tokenBudget(d, "source", col("doc_id"),
        col("n_toks"), col("q"), budgetNum = 2, budgetDen = 5)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        max(col("tokens_avail")).as("total_tokens"),
        max(col("budget_tokens")).as("budget_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("__tok")).otherwise(0L)).as("kept_tokens"))
  }

  /** Leakage-safe train/val/test split: near-dup CLUSTERS (LSH
    * candidates → connected components) are the split unit, so no
    * near-duplicate of a test doc can sit in train — the contamination
    * mode a row-hash split ([[graft.ops.Sampling.assignSplit]] keyed
    * by doc) cannot prevent. The n_leaky_clusters column IS the proof:
    * clusters spanning more than one split, exactly 0 by construction.
    */
  private def qLeakageSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cand = graft.ops.Dedup.minhashLshCandidates(
      docs, "doc_id", col("text"), n = 3, k = 8, bands = 4,
      maxBucketSize = Some(LshCap))
    val cl = graft.ops.Clusters.resolveDuplicates(docs.select("doc_id"), "doc_id", cand)
      .select(col("doc_id"), col("cluster_id"))
    val sp = graft.ops.Sampling.assignSplit(cl,
      concat(lit("lsplit:"), col("cluster_id").cast("string")),
      Seq(("train", 800), ("val", 100), ("test", 100)))
    val leaky = sp.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("__ns"))
      .filter(col("__ns") > 1)
      .agg(count(lit(1)).as("n_leaky_clusters"))
    sp.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"))
      .join(broadcast(leaky))
      .select(col("split"), col("n_docs"), col("n_clusters"),
        col("n_leaky_clusters"))
  }

  /** Cross-source shingle-overlap matrix
    * ([[graft.ops.Dedup.groupShingleOverlap]]): exact pairwise set
    * Jaccard between every source pair's distinct 3-shingle sets —
    * the "which sources mirror each other" pre-dedup diagnostic,
    * bounded by sources² per shingle rather than doc pairs.
    */
  private def qSourceOverlap(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.groupShingleOverlap(
      t(s, dir, "documents"), "source", col("text"), n = 3)

  /** Per-source distinctive tokens
    * ([[graft.ops.TextAnalysis.distinctiveTokens]]): top-5 tokens by
    * exact in-source-vs-rest lift ppm — the contrastive domain
    * signature a mixing pipeline reads before weighting sources.
    */
  private def qDistinctiveTokens(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.distinctiveTokens(
      t(s, dir, "documents"), "source", col("text"), k = 5, minCount = 5L)

  /** Out-of-vocabulary QA across the hash split: the share of val /
    * test TOKENS whose type never occurs in train — the held-out
    * coverage check run before any tokenizer or LM is trained on the
    * split. Train vocab is distinct-token (vocabulary-sized); the
    * token-keyed left join is the only corpus-sized shuffle.
    */
  private def qOovRate(s: SparkSession, dir: String): DataFrame = {
    val sp = graft.ops.Sampling.assignSplit(
      t(s, dir, "documents"), concat(lit("split:"), col("doc_id").cast("string")),
      Seq(("train", 800), ("val", 100), ("test", 100)))
    val toks = sp.select(col("split"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val trainVocab = toks.filter(col("split") === "train")
      .select("tok").distinct().withColumn("__seen", lit(true))
    toks.filter(col("split") =!= "train")
      .join(trainVocab, Seq("tok"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_oov_tokens"),
        countDistinct(col("tok")).as("n_types"),
        countDistinct(when(col("__seen").isNull, col("tok"))).as("n_oov_types"))
      .select(col("split"), col("n_tokens"), col("n_oov_tokens"),
        col("n_types"), col("n_oov_types"),
        expr("(n_oov_tokens * 1000000L) div n_tokens").as("oov_ppm"))
  }

  /** ROC AUC ([[graft.ops.Profiling.rocAuc]]) of the
    * calibration-row scorer — same md5 score channel and independent
    * coin label as [[qCalibration]], so the label rate tracks the
    * score by construction and the exact Mann–Whitney AUC lands near
    * its analytic 2/3 (uniform score, Bernoulli(score) label) with
    * only binomial noise. Threshold-free counterpart of the
    * calibration bins: one support-sized window, no per-row ranks.
    */
  private def qAuc(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "orders")
      .select(mdChan("cal:").as("score"), mdChan("coin:").as("__coin"))
      .select(col("score"), (col("__coin") < col("score")).as("label"))
    graft.ops.Profiling.rocAuc(scored, col("score"), col("label"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test
    * ([[graft.ops.Profiling.ksTest]]): English vs Chinese document
    * lengths, banded to tens of chars (bounded support — the ordered
    * window runs over bands, not rows). The ordered-numeric member
    * of the drift-test family (chi-square: categorical; JSD: token
    * distributions).
    */
  private def qKsTest(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    graft.ops.Profiling.ksTest(
      d.filter(col("lang") === "en"), expr("n_chars div 10"),
      d.filter(col("lang") === "zh"), expr("n_chars div 10"))
  }

  /** Gini concentration of corpus mass over sources
    * ([[graft.ops.Profiling.giniConcentration]]): is the corpus
    * dominated by one domain? Weight = chars contributed; one
    * key-sized window; exact ppm Gini + heaviest-source share — the
    * diversity gate read before [[qDataMix]]-style reweighting.
    */
  private def qGini(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.giniConcentration(
      t(s, dir, "documents"), col("source"), col("n_chars"))

  /** T-closeness profile ([[graft.ops.Profiling.tCloseness]]) over
    * the customer quasi-identifiers (nation, segment), sensitive =
    * the balance-thousands band (same QI family as [[qKAnonymity]]
    * / [[qLDiversity]], completing the privacy trio): per-class EMD
    * to the global balance distribution in exact floor-ppm, risky
    * above 200000 ppm.
    */
  private def qTCloseness(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.tCloseness(
      t(s, dir, "customer"),
      Seq(col("c_nationkey"), col("c_mktsegment")),
      floor(col("c_acctbal") / 1000).cast("long"),
      tPpm = 200000L)

  /** Common-neighbor link prediction
    * ([[graft.ops.Graphs.linkPredict]]) over the [[qTriangles]]
    * synthetic graph: top-50 non-adjacent pairs by shared-neighbor
    * count with the exact preferential-attachment product, wedges
    * hub-capped at degree 64 (cap mirrored in the oracle).
    */
  private def qLinkPredict(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graphs.linkPredict(
      t(s, dir, "orders").select((col("o_orderkey") % 1500).as("src"),
        (col("o_custkey") % 1500).as("dst")),
      maxDegree = 64, minCommon = 2L, k = 50)

  /** Heaps'-law vocabulary-growth curve
    * ([[graft.ops.TextAnalysis.heapsLaw]]): distinct types vs tokens
    * streamed in doc-position order, sampled at power-of-two index
    * bands — the tokenizer-vocab sizing / dedup-failure diagnostic;
    * one corpus scan, one type-keyed agg, ≤64-band windows.
    */
  private def qHeaps(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.heapsLaw(
      t(s, dir, "documents"), "doc_id", col("text"), maxDocTokens = 8192)

  /** Randomized-response proportion estimate
    * ([[graft.ops.Profiling.randomizedResponse]]): per-segment share
    * of negative balances through Warner's flip mechanism — 25%
    * md5-coin flips keyed by custkey, exact integer debias; the
    * privacy-mechanism row alongside k-anonymity / l-diversity /
    * t-closeness.
    */
  private def qRandomizedResponse(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.randomizedResponse(
      t(s, dir, "customer"), col("c_mktsegment"),
      col("c_acctbal") < 0, col("c_custkey"), pPpm = 250000L)

  /** md5 score/coin channel shared by the classifier-eval rows
    * (q_calibration, q_auc, q_prf1, q_mcnemar): a uniform-ppm value
    * keyed by (tag, orderkey), deterministic in both engines. */
  private def mdChan(tag: String): Column =
    conv(substring(md5(concat(lit(tag), col("o_orderkey").cast("string"))),
      1, 15), 16, 10).cast("long") % 1000000L

  /** Precision/recall/F1 operating points
    * ([[graft.ops.Profiling.prf1]]) of the calibration-row scorer at
    * thresholds 0.25/0.5/0.75 — the cutoff-picking view that
    * completes the q_calibration (reliability) / q_auc (ranking)
    * classifier-eval trio. Same md5 score + Bernoulli(score) label
    * channels, one scan, 3-key hash agg.
    */
  private def qPrf1(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "orders")
      .select(mdChan("cal:").as("score"), mdChan("coin:").as("__coin"))
      .select(col("score"), (col("__coin") < col("score")).as("label"))
    graft.ops.Profiling.prf1(scored, col("score"), col("label"),
      Seq(250000L, 500000L, 750000L))
  }

  /** McNemar's paired test ([[graft.ops.Profiling.mcnemar]]):
    * classifier A = the informed md5 scorer at its 0.5 cutoff,
    * classifier B = an INDEPENDENT md5 channel at the same cutoff (a
    * coin-flip baseline), both judged on the Bernoulli(score) truth —
    * A's information advantage shows up as b ≫ c and a large χ²,
    * exactly the paired-eval shape (two models, one labelled set).
    */
  private def qMcnemar(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "orders")
      .select(mdChan("cal:").as("__s"), mdChan("coin:").as("__c"),
        mdChan("alt:").as("__b"))
      .select((col("__c") < col("__s")).as("y"),
        (col("__s") >= 500000L).as("pa"), (col("__b") >= 500000L).as("pb"))
    graft.ops.Profiling.mcnemar(df, col("y"), col("pa"), col("pb"))
  }

  /** Stratified Mantel–Haenszel odds ratio
    * ([[graft.ops.Profiling.oddsRatioMH]]): exposure = AUTOMOBILE
    * segment, outcome = negative balance, stratified by nation — the
    * Simpson's-paradox-safe effect estimate next to q_ab_test's
    * pooled chi-square; per-stratum exact-ppm OR plus the pooled
    * `__pooled__` row.
    */
  private def qOddsRatio(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.oddsRatioMH(
      t(s, dir, "customer"), col("c_nationkey"),
      col("c_mktsegment") === "AUTOMOBILE", col("c_acctbal") < 0)

  /** Zipf rank–frequency profile
    * ([[graft.ops.TextAnalysis.zipfProfile]]) of the top-1024 corpus
    * tokens per rank octave — q_heaps' dual diagnostic; the
    * `rank·freq` invariant bounds expose boilerplate flooding. One
    * vocabulary agg + distributed top-K, never a global sort.
    */
  private def qZipf(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.zipfProfile(
      t(s, dir, "documents"), col("text"), topK = 1024)

  /** Embedding-space decontamination
    * ([[graft.ops.Similarity.semanticDecontaminate]]): bench set =
    * every 8th vector, corpus = the rest, keep-out at cos ≥ 0.4 (the
    * q_semantic_dedup neighborhood scale; this synthetic corpus tops
    * out near cos 0.46) —
    * the paraphrase-leakage check that complements the shingle-based
    * q_decontaminate; broadcast bench, one map-only corpus scan,
    * exact integer cos² ppm.
    */
  private def qSemanticDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    graft.ops.Similarity.semanticDecontaminate(
      e.filter(col("vec_id") % 8 =!= 0), e.filter(col("vec_id") % 8 === 0),
      "vec_id", "embedding", minCosPpm = 400000L)
  }

  /** Stopword list for the RAKE row — shared verbatim with the oracle
    * ("the"/"a" are the corpus's actual function words; the rest are
    * standard-list no-ops that exercise the contains path). */
  private val RakeStopwords = Seq("the", "a", "of", "and", "to", "is")

  /** RAKE keyphrase extraction
    * ([[graft.ops.TextAnalysis.rakeKeyphrases]]): top-50 candidate
    * phrases (maximal non-stopword runs) by the exact integer
    * degree/freq word-score sum — the unsupervised keyword/tag pass
    * over a corpus; one scan + per-doc windows + vocabulary agg.
    */
  private def qRake(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.rakeKeyphrases(
      t(s, dir, "documents"), "doc_id", col("text"), RakeStopwords, topK = 50)

  /** Poisson bootstrap ([[graft.ops.Sampling.poissonBootstrap]]):
    * 16 deterministic md5-weighted replicates of the mean order value
    * in cents (+ the `replicate = -1` point estimate) — the
    * distributed-bootstrap CI without any global resample; the
    * replicate spread IS the confidence interval.
    */
  private def qBootstrap(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.poissonBootstrap(
      t(s, dir, "orders"), col("o_orderkey"),
      floor(col("o_totalprice") * 100).cast("long"), replicates = 16)

  /** Multi-class confusion matrix
    * ([[graft.ops.Profiling.confusionMatrix]]): 3-class labels from
    * the md5 channel (`cls:` thirds), predictions right ~70% of the
    * time and otherwise shifted by 1+coin%2 — so the matrix has a
    * strong diagonal plus ASYMMETRIC off-diagonal mass. One 9-cell
    * hash agg + two broadcast marginals; exact floor-ppm
    * recall/precision per cell.
    */
  private def qConfusion(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "orders")
      .select((mdChan("cls:") % 3).as("__y"), mdChan("flip:").as("__f"))
      .select(concat(lit("c"), col("__y").cast("string")).as("label"),
        concat(lit("c"), when(col("__f") < 700000L, col("__y"))
          .otherwise((col("__y") + 1 + col("__f") % 2) % 3)
          .cast("string")).as("pred"))
    graft.ops.Profiling.confusionMatrix(df, col("label"), col("pred"))
  }

  /** Class-balanced downsampling
    * ([[graft.ops.Sampling.classBalance]]): a 60/30/10 synthetic
    * class skew (md5-channel thirds of the keyspace) thinned to the
    * rare class's size by stable per-class ppm hash thresholds —
    * map-only after one broadcast, never a per-class ordered window
    * (a 100 TB class would be a single-reducer sort). Output: per
    * class, the pre-balance count, the keep threshold, the selected
    * count, and a key checksum proving the exact kept SET.
    */
  private def qClassBalance(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "orders")
      .select(col("o_orderkey"),
        when(mdChan("cbc:") < 600000L, "common")
          .when(mdChan("cbc:") < 900000L, "mid")
          .otherwise("rare").as("cls"))
    graft.ops.Sampling.classBalance(df, col("cls"),
        concat(lit("cbk:"), col("o_orderkey").cast("string")))
      .groupBy("class", "n_class", "keep_ppm")
      .agg(count(lit(1)).as("n_selected"), sum("o_orderkey").as("key_checksum"))
      .select(col("class"), col("n_class"), col("keep_ppm"),
        col("n_selected"), col("key_checksum"))
  }

  /** Trailing-7 rolling lower median
    * ([[graft.ops.Windows.rollingMedian]]) of the scale-free daily
    * revenue series — the robust smoother next to q_cusum's
    * change detector and q_autocorr's seasonality probe; the planted
    * 1/3/5 weekly cycle pins the median to the mid factor once the
    * frame fills. Ordered window over the calendar-bounded series.
    */
  private def qRollingMedian(s: SparkSession, dir: String): DataFrame =
    graft.ops.Windows.rollingMedian(
      dailyRevSeries(s, dir), Seq.empty, col("t"), col("x"), k = 7)

  /** Theil–Sen robust trend ([[graft.ops.Profiling.theilSen]]) of
    * each priority's weekly milli-mean revenue series: the median
    * pairwise slope in exact micro-units — outlier-proof where a
    * least-squares line is not. The weekly series is scale-free
    * (wc·nw·1000 div tc per priority, the q_cusum discipline) and
    * calendar-bounded, so the per-group pair set (~weeks²/2) is the
    * same size at every sf.
    */
  private def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    val weekly = t(s, dir, "orders")
      .join(broadcast(t(s, dir, "orders")
        .agg(min(col("o_orderdate")).as("__d0"))))
      .select(col("o_orderpriority"),
        expr("CAST(datediff(o_orderdate, __d0) AS BIGINT) div 7").as("w"),
        floor(col("o_totalprice") * 100).cast("long").as("__cents"))
      .groupBy("o_orderpriority", "w").agg(sum("__cents").as("__wc"))
    val tot = weekly.groupBy("o_orderpriority")
      .agg(sum("__wc").as("__tc"), count(lit(1)).as("__nw"))
    val ser = weekly.join(broadcast(tot), Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("w"),
        expr("(__wc * __nw * 1000) div __tc").as("x"))
    graft.ops.Profiling.theilSen(ser, Seq("o_orderpriority"), col("w"), col("x"))
  }

  /** Mutual information ([[graft.ops.Profiling.mutualInfo]]) between
    * order priority and order status in exact micro-nats·n — the
    * feature-redundancy / label-leakage probe; these two synthetic
    * columns are independent, so mi_unat lands within floor noise of
    * 0 (each of the ~15 cell terms floors before summing).
    */
  private def qMutualInfo(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.mutualInfo(
      t(s, dir, "orders"), col("o_orderpriority"), col("o_orderstatus"))

  /** Grid-density clustering ([[graft.ops.Clusters.gridCluster]]) of
    * the embedding cloud projected to dims 1–2: 0.05-wide cells, core
    * at ≥4 points, components over 8-neighborhood adjacency — the
    * cell-DBSCAN that finds the synthetic centroid blobs without any
    * per-point O(n²) neighborhood query. The core grid (≈10² cells)
    * comes back in one bounded collect and is clustered on the driver;
    * nothing past the point aggregate runs on the points.
    */
  private def qGridCluster(s: SparkSession, dir: String): DataFrame =
    graft.ops.Clusters.gridCluster(
      t(s, dir, "embeddings"),
      element_at(col("embedding"), 1), element_at(col("embedding"), 2),
      cellMicro = 50000L, minPts = 4L)

  /** Cross-split perplexity drift: the held-out LM health check —
    * train the add-one unigram LM ([[graft.ops.TextAnalysis
    * .lmUnigramScore]]) on the train split only, score EVERY split
    * under it, and compare mean per-token log-probability; val/test
    * scoring below train by more than sampling noise means the split
    * leaked or the corpus drifted. Complements q_oov_rate (type
    * coverage) with the probability-mass view.
    */
  private def qSplitPerplexity(s: SparkSession, dir: String): DataFrame = {
    val sp = graft.ops.Sampling.assignSplit(
      t(s, dir, "documents"), concat(lit("split:"), col("doc_id").cast("string")),
      Seq(("train", 800), ("val", 100), ("test", 100)))
    val scored = graft.ops.TextAnalysis.lmUnigramScore(
      sp, "doc_id", col("text"), sp.filter(col("split") === "train"), col("text"))
    scored.join(sp.select("doc_id", "split"), Seq("doc_id"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("logprob_unat").as("logprob_unat"))
      .select(col("split"), col("n_docs"), col("n_tokens"), col("logprob_unat"),
        expr("logprob_unat div n_tokens").as("per_token_unat"))
  }

  /** Truncated-exponential moving average
    * ([[graft.ops.Windows.ewmaTrunc]], α=½ over 6 lags) of the
    * scale-free daily revenue series — the recency-weighted smoother
    * between q_rolling_median (robust, unweighted) and q_decayed
    * (per-key decayed sums); exact integer weights 32/16/…/1 with
    * warm-up renormalization.
    */
  private def qEwma(s: SparkSession, dir: String): DataFrame =
    graft.ops.Windows.ewmaTrunc(
      dailyRevSeries(s, dir), Seq.empty, col("t"), col("x"), k = 6)

  /** Information-gain feature ranking
    * ([[graft.ops.Profiling.infoGain]]): four candidate features
    * scored against the big-order label (total ≥ 300k) in one stacked
    * scan — price_band CONTAINS the label boundary so it tops the
    * ranking at ≈ n·H(Y), while priority/status/year are independent
    * of it and land within floor noise of 0. The leakage detector a
    * feature pipeline runs before training.
    */
  private def qInfoGain(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.infoGain(
      t(s, dir, "orders"),
      when(col("o_totalprice") >= 300000, "big").otherwise("small"),
      Seq(
        "priority" -> col("o_orderpriority"),
        "status" -> col("o_orderstatus"),
        "price_band" -> floor(col("o_totalprice") / 100000).cast("long"),
        "year" -> year(col("o_orderdate"))))

  /** Token burstiness ([[graft.ops.TextAnalysis.burstiness]]): top-50
    * tokens by exact Fano factor (per-doc count variance ÷ mean over
    * occurring docs) — topical/template tokens concentrate (≫10⁶ ppm),
    * function words sit near Poisson (≈10⁶) — the content-vs-glue
    * separation TF-IDF approximates, measured directly.
    */
  private def qBurstiness(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.burstiness(
      t(s, dir, "documents"), "doc_id", col("text"), minDf = 5L, topK = 50)

  /** Degree assortativity ([[graft.ops.Graphs.assortativity]]) of the
    * high-quantity lineitem order–supplier graph (the q_kcore edge
    * construction): exact r²-ppm + sign over every directed stub —
    * "do hubs attach to hubs" in one corr fold, never nodes².
    */
  private def qAssortativity(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graphs.assortativity(
      t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("a"), (-col("l_suppkey")).as("b")),
      "a", "b")

  /** Edge reciprocity ([[graft.ops.Graphs.reciprocity]]) of the
    * directed order→part residue graph: share of edges whose reverse
    * exists, exact floor-ppm — the broadcast-vs-conversational
    * network diagnostic.
    */
  private def qReciprocity(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graphs.reciprocity(
      t(s, dir, "lineitem")
        .select((col("l_orderkey") % 2000).as("src"),
          (col("l_partkey") % 2000).as("dst")),
      "src", "dst")

  /** Sample-ratio mismatch
    * ([[graft.ops.Profiling.sampleRatioMismatch]]): the md5-split A/B
    * assignment checked against its intended 1:1 weights — exact
    * milli chi-square goodness-of-fit, the guardrail every
    * experimentation pipeline runs before reading any metric (a
    * biased split invalidates the whole experiment).
    */
  private def qSrm(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.sampleRatioMismatch(
      t(s, dir, "orders"),
      when(mdChan("srm:") < 500000L, "A").otherwise("B"),
      Seq("A" -> 1L, "B" -> 1L))

  /** CUPED variance reduction ([[graft.ops.Profiling.cuped]]): order
    * value adjusted by its dollar-truncated pre-estimate — a
    * covariate correlated ≈1 with the metric, so θ lands near 10⁶ ppm
    * and the adjusted variant means collapse toward each other while
    * the raw means carry the split's sampling noise. Exact integer θ
    * (5-sum decimal identities) and milli means.
    */
  private def qCuped(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.cuped(
      t(s, dir, "orders"),
      when(mdChan("cup:") < 500000L, "A").otherwise("B"),
      floor(col("o_totalprice") * 100).cast("long"),
      floor(col("o_totalprice")).cast("long") * 100)

  /** Linear-weighted Cohen's kappa
    * ([[graft.ops.Profiling.weightedKappa]]): two synthetic ordinal
    * raters on a 0–4 scale, the second off by +1 on a 20% md5 coin —
    * near-misses cost 1/4 of a gross miss, so κ_w sits well above the
    * unweighted κ the q_kappa row would report for the same data.
    */
  private def qWeightedKappa(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "orders")
      .select((mdChan("wka:") % 5).as("__a"), mdChan("wkf:").as("__f"))
      .select(col("__a"),
        least(col("__a") + expr("__f div 800000"), lit(4L)).as("__b"))
    graft.ops.Profiling.weightedKappa(df, col("__a"), col("__b"))
  }

  /** ε-DP histogram ([[graft.ops.Profiling.dpGeometricHistogram]],
    * geometric mechanism at ε = ln 2): market-segment counts with
    * reproducible two-sided-geometric integer noise from md5
    * trailing-bit draws — the privacy-preserving release next to the
    * q_k_anonymity / q_l_diversity / q_t_closeness suppression checks
    * and q_randomized_response's local mechanism.
    */
  private def qDpHist(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.dpGeometricHistogram(
      t(s, dir, "customer"), col("c_mktsegment"), seed = "dp8:")

  /** Funnel time-to-convert ([[graft.ops.Windows.funnelLatency]] →
    * [[graft.ops.Profiling.exactPercentiles]]): p50/p90/p99 seconds
    * from a user's first `view` to their first `purchase` at-or-after
    * it — the latency view that completes q_funnel's count view.
    */
  private def qFunnelTime(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val lat = graft.ops.Windows.funnelLatency(
      ev.select(col("user_id"), col("event_type"),
        tsMicros(ev, "ts").as("tsm")),
      "user_id", "event_type", "tsm", "view", "purchase")
    graft.ops.Profiling.exactPercentiles(
        lat.withColumn("__g", lit("all")), Seq("__g"),
        expr("latency div 1000000"), Seq(50, 90, 99))
      .select(col("p"), col("value"))
  }

  /** Cross-source quantile normalization
    * ([[graft.ops.Profiling.quantileNormalize]]): every source's
    * document-length distribution mapped onto the pooled per-rank
    * profile — the batch-effect remover run before mixing sources
    * whose length (or score) scales differ.
    */
  private def qQuantileNorm(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.quantileNormalize(
      t(s, dir, "documents"), "source", "doc_id", col("n_chars"))

  /** Language-ID evaluation: the [[graft.ops.TextAnalysis.languageId]]
    * heuristic scored against the documents table's ground-truth
    * `lang` column via [[graft.ops.Profiling.confusionMatrix]] —
    * which languages the marker-word cascade confuses, with exact
    * per-cell recall/precision. The eval loop a language filter runs
    * before trusting the detector on an unlabeled corpus.
    */
  private def qLangidEval(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.confusionMatrix(
      t(s, dir, "documents"), col("lang"),
      graft.ops.TextAnalysis.languageId(col("text")))

  /** Top navigation paths ([[graft.ops.Windows.sessionPaths]]): the
    * 20 most common first-5-event session paths at the q_sessionize
    * gap (30 min) — where users actually go, next to q_funnel's
    * fixed-order counts; event_id tie-break makes paths total-order
    * deterministic.
    */
  private def qSessionPath(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    graft.ops.Windows.sessionPaths(
      ev.select(col("user_id"), col("event_type"), col("event_id"),
        tsMicros(ev, "ts").as("t_us")),
      "user_id", "event_type", "t_us", "event_id",
      maxGap = 1800000000L, pathLen = 5, topK = 20)
  }

  /** Cohort lifetime value ([[graft.ops.Windows.cohortLtv]]):
    * first-seen-week cohorts accumulating event revenue over cohort
    * age — the payback curve next to q_retention's activity matrix;
    * exact cents, cumulative window over the calendar-bounded
    * (cohort, age) grid.
    */
  private def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    graft.ops.Windows.cohortLtv(
      ev.select(col("user_id"), col("value"), tsMicros(ev, "ts").as("t_us")),
      "user_id", "t_us", floor(col("value") * 100).cast("long"))
  }

  /** Empirical-Bayes smoothed click rates
    * ([[graft.ops.Profiling.smoothedRates]], Beta(5, 95) prior): 200
    * synthetic "pages" (user-id residues) ranked by shrunk
    * click-vs-view rate — the estimator that stops a 1/1 page from
    * outranking a steady performer; top-20 with raw and smoothed ppm
    * side by side.
    */
  private def qSmoothedRates(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.smoothedRates(
        t(s, dir, "events")
          .filter(col("event_type").isin("view", "click")),
        concat(lit("p"), (col("user_id") % 200).cast("string")),
        col("event_type") === "click", alpha = 5L, beta = 95L)
      .filter(col("rank") <= 20)

  /** Seasonal-naive MASE ([[graft.ops.Profiling.seasonalNaiveMase]])
    * of the daily revenue series at period 7: the planted 1/3/5
    * weekly cycle makes the week-ago forecast far better than
    * yesterday's value, so mase_ppm lands well under 10⁶ — the
    * forecast-accuracy number that quantifies q_autocorr's lag-7
    * spike.
    */
  private def qSeasonalNaive(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.seasonalNaiveMase(
      dailyRevSeries(s, dir), col("t"), col("x"), period = 7)

  /** Capture–recapture dedup audit
    * ([[graft.ops.Dedup.captureRecapture]]): MinHash-LSH and SimHash
    * pair sets over the same corpus → Chapman estimate of the TRUE
    * duplicate-pair population and each detector's implied recall —
    * the "how much duplication are we missing" number when no
    * planted truth exists (q_minhash_recall's complement).
    */
  private def qDedupCapture(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Dedup.captureRecapture(
      graft.ops.Dedup.minhashLshCandidates(
        docs, "doc_id", col("text"), n = 3, k = 8, bands = 4,
        maxBucketSize = Some(LshCap)),
      graft.ops.Dedup.simhashNearDups(
        docs, "doc_id", col("text"), maxHamming = 5, bits = 60,
        maxBucketSize = Some(LshCap)),
      // both detectors emit distinct id_a < id_b pairs (see the
      // captureRecapture doc) — skip the per-side canonicalize
      // exchange + distinct
      inputsCanonical = true)
  }

  /** Measured Bloom false-positive rate: probe the
    * [[graft.ops.Sketches.bloomIndex]] (16 Kbit/file here — sized so
    * the sf0.01 load sits near the design point) with 2,000 keys
    * GUARANTEED absent (negative custkeys) — every maybe is a false
    * positive, so `fpr_ppm` is the filter's real error rate per file,
    * the measurement that validates the `(1 − e^{−kn/m})^k` sizing
    * math before a reader trusts the skip decisions.
    */
  private def qBloomFpr(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select((col("o_orderkey") % 8).as("file"), col("o_custkey"))
    val idx = graft.ops.Sketches.bloomIndex(
      o, col("file"), col("o_custkey"), mBits = 16384, k = 3)
    val probes = s.range(1, 2001).select((-col("id")).as("probe_key"))
    graft.ops.Sketches.bloomMaybe(idx, probes, "probe_key", 16384, 3)
      .groupBy("file")
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("maybe"), 1L).otherwise(0L)).as("n_false_pos"))
      .select(col("file"), col("n_probes"), col("n_false_pos"),
        expr("n_false_pos * 1000000L div n_probes").as("fpr_ppm"))
  }

  /** Weekly churn ([[graft.ops.Windows.weeklyChurn]]): of each week's
    * active users, the share never seen the following week — the
    * calendar-time complement of q_retention's cohort matrix; the
    * unfinished last week is excluded.
    */
  private def qWeeklyChurn(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    graft.ops.Windows.weeklyChurn(
      ev.select(col("user_id"), tsMicros(ev, "ts").as("t_us")),
      "user_id", "t_us")
  }

  /** Lorenz-curve deciles ([[graft.ops.Profiling.lorenzCurve]]) of
    * customer revenue — WHERE the concentration sits when q_gini's
    * scalar says "concentrated": cumulative revenue share of the
    * bottom d/10 of customers, exact decimal ppm.
    */
  private def qLorenz(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.lorenzCurve(
      t(s, dir, "orders"), col("o_custkey"),
      floor(col("o_totalprice") * 100).cast("long"), points = 10)

  /** Near-duplicate rate BY SOURCE: the share of each source's
    * documents that participate in at least one MinHash-LSH candidate
    * pair — the slice that turns the corpus-wide dedup number into a
    * per-source quality verdict ("which feed is flooding us with
    * copies"); read next to q_source_overlap's cross-source matrix.
    * Pair explode → distinct members → source-keyed fold.
    */
  private def qDupRate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val members = graft.ops.Dedup.minhashLshCandidates(
        docs, "doc_id", col("text"), n = 3, k = 8, bands = 4,
        maxBucketSize = Some(LshCap))
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
      .withColumn("__dup", lit(true))
    docs.join(members, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_members"))
      .select(col("source"), col("n_docs"), col("n_dup_members"),
        expr("n_dup_members * 1000000L div n_docs").as("dup_ppm"))
  }

  // ---- wave 5: temporal + skew-aware joins -------------------------

  /** As-of join: each event attached to the user's latest order at or
    * before the event time (oracle: DuckDB `ASOF LEFT JOIN`). The
    * right side is restricted (custkey % 3 != 0) so ~⅓ of events
    * exercise the no-match null path, and pre-aggregated to one row
    * per (custkey, orderdate) per [[graft.ops.Joins.asofJoin]]'s
    * uniqueness contract.
    */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.Streams.withEventTime(t(s, dir, "events"))
      .select(col("event_id"), col("user_id"), col("event_time"))
    val ord = t(s, dir, "orders")
      .filter(pmod(col("o_custkey"), lit(3)) =!= 0)
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("o_orderkey"),
        max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
    graft.ops.Joins.asofJoin(ev, ord,
        Seq("user_id" -> "o_custkey"), "event_time", "o_orderdate")
      .select("event_id", "user_id", "o_orderkey", "o_totalprice")
  }

  /** Banded range join: pairs of events by the same user within one
    * hour of each other. Times compared in EPOCH MICROS on both
    * engines ([[tsMicros]] ≡ DuckDB `epoch_us` for either physical
    * layout of the events fixture).
    */
  private def qBandJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val a = ev.select(col("user_id"), col("event_id").as("event_id_a"),
      col("event_type").as("type_a"), tsMicros(ev, "ts").as("t_a"))
    val b = ev.select(col("user_id").as("user_id_b"), col("event_id").as("event_id_b"),
      col("event_type").as("type_b"), tsMicros(ev, "ts").as("t_b"))
    graft.ops.Joins.bandJoin(a, b, Seq("user_id" -> "user_id_b"), "t_a", "t_b",
        band = 3600000000L)
      .filter(col("event_id_a") < col("event_id_b"))
      .select(col("user_id"), col("event_id_a"), col("event_id_b"),
        col("type_a"), col("type_b"), (col("t_b") - col("t_a")).as("dt_us"))
  }

  /** Salted skew join: semantically a plain orders⋈customer — the
    * oracle IS the unsalted join — but executed with the big side
    * spread over 8 deterministic salt sub-keys
    * ([[graft.ops.Joins.saltedJoin]]). min/max are raw passthrough
    * doubles (no order-dependent sums).
    */
  private def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "orders").select(col("o_custkey").as("custkey"),
      col("o_orderkey"), col("o_totalprice"))
    val small = t(s, dir, "customer").select(col("c_custkey").as("custkey"),
      col("c_mktsegment"))
    graft.ops.Joins.saltedJoin(big, small, Seq("custkey"), col("o_orderkey"), salts = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        min("o_totalprice").as("min_price"), max("o_totalprice").as("max_price"))
  }

  // ---- wave 6: SQL surface, two-table linkage, keyed windows -------

  /** SQL-surface parity: the registered [[GraftFunctions]] make this
    * query's text runnable VERBATIM on DuckDB (whose built-in
    * `jaro_winkler_similarity` is what the reference calls,
    * comparators.R:7-12) — the strongest switch-engines evidence we
    * can produce: same SQL, same bits.
    */
  private def qSqlFunctions(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    t(s, dir, "part").createOrReplaceTempView("part")
    s.sql(SqlFunctionsSql)
  }

  // CAST on damerau_levenshtein: Spark's registered expression returns
  // INT, DuckDB's built-in BIGINT — the cast is the same text on both
  // (the q_unicode_norm length precedent).
  private val SqlFunctionsSql: String =
    """SELECT p_partkey,
      |       jaro_winkler_similarity(p_name, p_type) AS jw_name_type,
      |       jaro_winkler_similarity(p_brand, p_type) AS jw_brand_type,
      |       CAST(damerau_levenshtein(p_brand, p_type) AS BIGINT) AS dl_brand_type,
      |       CAST(damerau_levenshtein(p_name, p_brand) AS BIGINT) AS dl_name_brand
      |FROM part WHERE p_partkey <= 300""".stripMargin

  /** Unicode canonicalization, the q_sql_functions way: the IDENTICAL
    * SQL text runs on Spark (via [[graft.expr.UnicodeExprs]],
    * registered under DuckDB's own function names) and on DuckDB.
    * Odd doc_ids get a tail that exercises every normalization class:
    * decomposed e+U+0301, precomposed é/ñ, the U+212B→Å singleton,
    * double-mark U+1E39, a spacing mark (U+0903) and an enclosing
    * mark (U+20DD) — so the hash compare pins composed/decomposed
    * collapse, all three mark categories, and the no-recompose
    * singleton path. Lengths cast to BIGINT (Spark length is INT,
    * DuckDB's BIGINT; the cast is the same text on both).
    */
  private val UnicodeNormSql: String = {
    // decomposed e+mark, composed é, ñ, Å-singleton, double-mark,
    // base+spacing-mark, base+enclosing-mark — explicit codepoints
    val tail = " e\u0301 \u00e9 \u00f1 \u212b \u1e39 \u0915\u0903 a\u20dd"
    s"""WITH d AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 2 = 0 THEN substr(text, 1, 40)
       |              ELSE substr(text, 1, 40) || '$tail' END AS decorated
       |  FROM documents WHERE doc_id % 7 = 0)
       |SELECT doc_id,
       |       CAST(length(decorated) AS BIGINT) AS len_raw,
       |       CAST(length(nfc_normalize(decorated)) AS BIGINT) AS len_nfc,
       |       nfc_normalize(decorated) AS nfc,
       |       strip_accents(decorated) AS stripped
       |FROM d""".stripMargin
  }

  private def qUnicodeNorm(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    t(s, dir, "documents").createOrReplaceTempView("documents")
    s.sql(UnicodeNormSql)
  }

  /** Two-table linkage (the reference's primary production shape:
    * linking two different snapshots/tables, scratch.R:142-156 links
    * NCVR 2021×2023). Schemas differ — blocking keys are a left→right
    * name map, comparators are free-form expressions over the suffixed
    * pair — and there is NO self-linkage canonical filter (A≠B).
    */
  private def qTwoTableLink(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val sup = t(s, dir, "supplier")
    val rules = BlockingRules(Seq(EquiKeys(Map("c_nationkey" -> "s_nationkey"))))
    val ids = Blocking.extractBlocks(c, sup, "c_custkey", "s_suppkey", rules)
    val pairs = Pairs.computePairsDataset(c, sup, "c_custkey", "s_suppkey", ids)
    val comps = Seq(
      Comparators.expression("name_band", coalesce(
        graft.expr.JaroWinkler.jaro_winkler_band(
          col("c_name_left"), col("s_name_right"), 0.9, 0.85),
        lit("no agreement"))),
      Comparators.expression("acct_band",
        when(abs(col("c_acctbal_left") - col("s_acctbal_right")) < lit(500.0), "close")
          .otherwise("far")),
      // Exact comparator over a derived key digit with nullif-
      // synthesized missingness: digit 0 → NULL input → NULL level
      // (the reference's inapplicable-comparison convention), so the
      // A≠B pattern table exercises agree / disagree / NULL.
      Comparators.expression("key_digit",
        when(expr("nullif(pmod(c_custkey_left, 10), 0)") ===
             expr("nullif(pmod(s_suppkey_right, 10), 0)"), "agree")
          .when(expr("nullif(pmod(c_custkey_left, 10), 0)") =!=
                expr("nullif(pmod(s_suppkey_right, 10), 0)"), "disagree")))
    Pairs.patternCounts(Comparators.doComparisons(pairs, comps), comps)
  }

  /** Gap-based sessionization over the events stream table: per-user
    * sessions split at >30 min of inactivity, summarized per session.
    * Times in integral epoch micros on both engines.
    */
  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"), tsMicros(raw, "ts").as("t_us"))
    graft.ops.Windows.sessionSummary(ev, Seq("user_id"), "t_us",
      maxGap = 1800000000L)
  }

  /** Per-group top-k: 3 highest-balance customers per market segment —
    * keyed window, deterministic tie-break on custkey.
    */
  private def qGroupedTopK(s: SparkSession, dir: String): DataFrame =
    graft.ops.Windows.groupedTopK(
        t(s, dir, "customer").select("c_mktsegment", "c_custkey", "c_acctbal"),
        Seq("c_mktsegment"), col("c_acctbal"), Seq(col("c_custkey")), k = 3)
      .withColumn("rnk", col("rnk").cast("long"))

  /** The decontamination KEEP side: corpus minus flagged docs via one
    * anti join (same flag parameters as q_decontaminate).
    */
  private def qDecontaminateFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Decontaminate.filterClean(
        docs.filter(col("doc_id") % 20 =!= 0), "doc_id", col("text"),
        docs.filter(col("doc_id") % 20 === 0), col("text"),
        n = 3, minOverlap = 5L)
      .select("doc_id", "lang")
  }

  /** Sketch aggregation: HyperLogLog++ approximate distinct count,
    * asserted within 3% of exact IN the query result — the oracle row
    * then hash-checks that the sketch's accuracy contract holds (the
    * sketch itself is deterministic for a given input). At 100 TB,
    * approx_count_distinct is one pass with constant memory where
    * count(DISTINCT) is a full shuffle.
    */
  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(
      countDistinct(col("o_custkey")).as("n_exact"),
      // rsd 0.01 → expected relative error ~1%; contract asserts 3%
      // (the default rsd=0.05 sketch landed outside 5% on this data).
      (abs(approx_count_distinct(col("o_custkey"), 0.01) - countDistinct(col("o_custkey")))
        / countDistinct(col("o_custkey")) < 0.03).as("within_3pct"))

  /** Approx-percentile sketch (Greenwald–Khanna variant) with its
    * accuracy contract inside the row, like [[qApproxDistinct]]: the
    * exact percentiles anchor the oracle compare, and the booleans
    * assert the sketch landed within 1% relative error OR one unit of
    * the (integer-valued) quantity domain. The granularity allowance
    * is load-bearing: exact `percentile` INTERPOLATES between the two
    * middle values while the sketch returns an actual data value, so
    * on a discrete domain the sketch can be rank-perfect yet ~2% off
    * the interpolated reference (first seen at sf0.1 — sf0.01's
    * median happened to land on an integer). At scale the sketch is
    * the only viable path (exact `percentile` materializes per-group
    * value arrays; the sketch is fixed-size, mergeable, one pass).
    */
  private def qApproxQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ex50 = expr("percentile(l_quantity, 0.5D)")
    val ex99 = expr("percentile(l_quantity, 0.99D)")
    val ap50 = expr("approx_percentile(l_quantity, 0.5D, 10000)")
    val ap99 = expr("approx_percentile(l_quantity, 0.99D, 10000)")
    def ok(ap: Column, ex: Column): Column =
      abs(ap - ex) / ex <= 0.01 || abs(ap - ex) <= 1.0
    t(s, dir, "lineitem").agg(
      ex50.as("p50_exact"), ex99.as("p99_exact"),
      ok(ap50, ex50).as("p50_within_1pct_or_unit"),
      ok(ap99, ex99).as("p99_within_1pct_or_unit"))
  }

  /** Window frame spec (ROWS BETWEEN): rolling min/max/count over the
    * last 3 events per user in event order. Exact (no float sums);
    * keyed partitioning.
    */
  private def qWindowFrame(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id").rowsBetween(-2, 0)
    t(s, dir, "events").select(col("user_id"), col("event_id"),
      count(lit(1)).over(w).as("n_in_frame"),
      min(col("value")).over(w).as("min_v"),
      max(col("value")).over(w).as("max_v"))
  }

  /** PII redaction: plant a synthetic email / IPv4 / account number on
    * every document (the fixture corpus carries none), scrub with
    * [[graft.ops.TextAnalysis.redactPii]], and hash-compare the full
    * redacted text against DuckDB running the same RE2-compatible
    * patterns. Map-only, codegen'd, no shuffle.
    */
  private def qRedactPii(s: SparkSession, dir: String): DataFrame = {
    val dirty = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@mail.example.com"),
        lit(" from 10.0."), (col("doc_id") % 200).cast("string"), lit(".77"),
        lit(" acct 1234567890"), col("doc_id").cast("string")).as("text"))
    dirty.select(col("doc_id"),
      graft.ops.TextAnalysis.redactPii(col("text")).as("redacted"))
  }

  /** Stratified deterministic sampling: downsample the dominant
    * language, keep more of the rare ones — the corpus-mixing move.
    * Same stable md5-bucket decision as q_hash_sample; rates compile
    * to one folded `when`, map-only.
    */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.stratifiedHashSample(
      t(s, dir, "documents").select("doc_id", "lang"),
      col("doc_id"), col("lang"),
      Map("en" -> 100, "de" -> 400), defaultPermille = 250)

  /** Global top-20 bigrams: corpus phrase statistics via explode +
    * hash agg + TakeOrderedAndProject (no global sort).
    */
  private def qTopNgrams(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.topNgrams(
      t(s, dir, "documents"), col("text"), n = 2, k = 20)

  /** Segment-level dedup (CCNet line dedup): drop segments occurring
    * in ≥ 300 distinct docs (boilerplate), rebuild each doc from its
    * surviving segments in original order. The synthetic corpus has
    * no newlines, so the oracle row segments on spaces — same
    * explode → distinct-doc count → join-back → ordered-reassembly
    * plan as line dedup, with the boilerplate threshold separating
    * the ~30 ubiquitous tokens from rare content.
    */
  private def qLineDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.removeFrequentSegments(
      t(s, dir, "documents"), "doc_id", "text",
      minDocs = 300, splitRegex = " ", joinStr = " ")

  /** Left semi join (EXISTS): customers with at least one open-status
    * order — no right-side columns, no row duplication, the shape a
    * keep-list membership check takes at scale.
    */
  private def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
    t(s, dir, "customer")
      .join(open, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")
  }

  /** Set-valued aggregation: per-user distinct event types, emitted
    * as a canonical comma-joined sorted string so the hash compare is
    * engine-neutral (array orderings differ; strings don't).
    * `collect_set` is a hash-agg with map-side partials — the
    * distinct happens inside the aggregate buffer, not via a
    * pre-shuffle `distinct`.
    */
  private def qCollectSet(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").groupBy("user_id")
      .agg(concat_ws(",", array_sort(collect_set(col("event_type"))))
        .as("event_types"))

  /** Per-language quality cutoff: percent_rank of document length
    * within each language shard, keep the bottom half — the
    * per-stratum-threshold filter every quality pipeline needs
    * (a GLOBAL rank would both skew against verbose languages and
    * serialize into one partition; the keyed window does neither).
    * percent_rank = (rank-1)/(n-1): one integer division, exact and
    * engine-identical given identical tie groups.
    */
  private def qQualityCutoff(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("n_chars")
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        percent_rank().over(w).as("pr"))
      .filter(col("pr") <= 0.5)
  }

  /** Fixed-width histogram of the event value: exact floor-division
    * bucketing (one hash agg, map-side combine) with per-bucket
    * min/max — no float sums, engine-identical doubles.
    */
  private def qHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(floor(col("value") / 25).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("value").as("min_v"), max("value").as("max_v"))

  /** PageRank over the bipartite customer→order graph (order ids
    * negated into their own node space), in EXACT scaled-integer
    * arithmetic (BIGINT micro-rank units): integer sums are
    * order-independent, so a DuckDB chained-CTE mirror of the same
    * update rule hashes bit-identically — this is a full
    * rows+schema+hash oracle row, not a rows-only check. 5 rounds,
    * each ONE job: one hash join + one hash agg on the node id plus a
    * broadcast 1-row dangling-mass fold (no per-round driver action).
    * ClustersSpec additionally pins the float variant to an
    * independent scalar power iteration.
    */
  private def qPageRank(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graphs.pageRankExact(
      t(s, dir, "orders").select(col("o_custkey").as("src"),
        (-col("o_orderkey")).as("dst")),
      iterations = 5,
      // o_orderkey is the orders PK: one row per dst ⇒ (src, dst)
      // pairs are unique by construction, so the library's dedup
      // distinct is a full extra shuffle for nothing (guide §2.4 "a
      // distinct on data that is already unique"); the oracle's
      // SELECT DISTINCT is equally a no-op, so results are unchanged.
      dedupEdges = false)

  /** DuckDB mirror of [[graft.ops.Graphs.pageRankExact]]: the same
    * integer update rule unrolled as a chained-CTE round per
    * iteration (`//` is DuckDB integral division ≡ Spark `div` on
    * these non-negative operands; sums promote to HUGEINT and are
    * cast back to BIGINT after the final division, which is lossless
    * because the true value fits long by construction).
    */
  private def pageRankOracle(iterations: Int): String = {
    val (dampNum, dampDen, scale) = (85L, 100L, 1000000L)
    val base = ((dampDen - dampNum) * scale) / dampDen
    val rounds = (0 until iterations).map { i =>
      s"""r${i + 1} AS (
         |  SELECT nd.id,
         |    CAST($base + ($dampNum * (COALESCE(inb.v, 0) + dang.d // nn.n)) // $dampDen AS BIGINT) AS rank,
         |    nd.deg
         |  FROM nd
         |  LEFT JOIN (
         |    SELECT e.dst AS id, sum(r$i.rank // r$i.deg) AS v
         |    FROM edges e JOIN r$i ON e.src = r$i.id
         |    GROUP BY e.dst
         |  ) inb ON nd.id = inb.id
         |  CROSS JOIN (SELECT COALESCE(sum(rank), 0) AS d FROM r$i WHERE deg IS NULL) dang
         |  CROSS JOIN (SELECT count(*) AS n FROM nd) nn
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey AS src, -o_orderkey AS dst FROM orders
       |),
       |nodes AS (
       |  SELECT src AS id FROM edges UNION SELECT dst FROM edges
       |),
       |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
       |nd AS (SELECT n.id, d.deg FROM nodes n LEFT JOIN deg d ON n.id = d.id),
       |r0 AS (SELECT id, CAST($scale AS BIGINT) AS rank, deg FROM nd),
       |$rounds
       |SELECT id, rank FROM r$iterations""".stripMargin
  }

  /** Personalized PageRank over the same customer→order graph:
    * teleport and dangling mass go uniformly to the SEED set (every
    * 100th customer — the "trusted domains") instead of all nodes.
    * Scaled-BIGINT arithmetic like q_pagerank, so the DuckDB
    * chained-CTE mirror hashes bit-identically.
    */
  private def qPpr(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    graft.ops.Graphs.personalizedPageRankExact(
      orders.select(col("o_custkey").as("src"), (-col("o_orderkey")).as("dst")),
      // custkey 0 exists in the data; keep it out of the seed set so
      // the predicate mirrors the oracle's `id > 0 AND id % 100 = 0`
      // (node 0 is also order 0's dst in this folded id space)
      orders.select(col("o_custkey"))
        .filter(col("o_custkey") % 100 === 0 && col("o_custkey") > 0),
      iterations = 5,
      // unique by the orders PK — see qPageRank's dedupEdges note
      dedupEdges = false)
  }

  /** DuckDB mirror of [[graft.ops.Graphs.personalizedPageRankExact]]:
    * seed flag = (id > 0 AND id % 100 = 0), teleport constant
    * computed IN SQL with the same integer-division chain the Spark
    * driver uses (`(teleNum·N // |S|) // dampDen`).
    */
  private def pprOracle(iterations: Int): String = {
    val (dampNum, dampDen, scale) = (85L, 100L, 1000000L)
    val teleNum = (dampDen - dampNum) * scale
    val rounds = (0 until iterations).map { i =>
      s"""r${i + 1} AS (
         |  SELECT nd.id,
         |    CAST(($dampNum * (COALESCE(inb.v, 0) +
         |           CASE WHEN nd.seed THEN dang.d // ns.k ELSE 0 END)) // $dampDen
         |         + CASE WHEN nd.seed THEN (($teleNum * nn.n) // ns.k) // $dampDen ELSE 0 END
         |         AS BIGINT) AS rank,
         |    nd.deg, nd.seed
         |  FROM nd
         |  LEFT JOIN (
         |    SELECT e.dst AS id, sum(r$i.rank // r$i.deg) AS v
         |    FROM edges e JOIN r$i ON e.src = r$i.id
         |    GROUP BY e.dst
         |  ) inb ON nd.id = inb.id
         |  CROSS JOIN (SELECT COALESCE(sum(rank), 0) AS d FROM r$i WHERE deg IS NULL) dang
         |  CROSS JOIN (SELECT count(*) AS n FROM nd) nn
         |  CROSS JOIN (SELECT count(*) AS k FROM nd WHERE seed) ns
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey AS src, -o_orderkey AS dst FROM orders
       |),
       |nodes AS (
       |  SELECT src AS id FROM edges UNION SELECT dst FROM edges
       |),
       |deg AS (SELECT src AS id, count(*) AS deg FROM edges GROUP BY src),
       |nd AS (SELECT n.id, d.deg, (n.id > 0 AND n.id % 100 = 0) AS seed
       |       FROM nodes n LEFT JOIN deg d ON n.id = d.id),
       |r0 AS (SELECT id, CAST($scale AS BIGINT) AS rank, deg, seed FROM nd),
       |$rounds
       |SELECT id, rank FROM r$iterations""".stripMargin
  }

  /** Event-transition (Markov bigram) counts: per user in time order,
    * count each `event_type → next event_type` step — the
    * session-path statistic behind next-action models and funnel
    * design. One keyed window (lag over user_id×ts), one hash agg;
    * ties on (user, ts) are broken by event_id so the sequence — and
    * the oracle mirror — is total-ordered and deterministic.
    */
  private def qTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Interval OVERLAP join ([[graft.ops.Joins.overlapJoin]]): view
    * events open a VARIABLE-length interval (duration scales with the
    * event value — genuinely an overlap join, not a band join in
    * disguise), purchases likewise; pairs whose intervals intersect
    * per user. Both sides explode to covered bins; exactly-once via
    * the first-shared-bin trick, no distinct. Durations use per-row
    * `floor(value * 6e10)` — exact-rounded IEEE multiply then explicit
    * floor, identical on both engines (DuckDB's BIGINT cast ROUNDS, so
    * the floor must be spelled out).
    */
  private def qOverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsNanos(raw, "ts").as("ts"),
        (tsNanos(raw, "ts") + floor(col("value") * 60000000000.0).cast("long")).as("t_end"))
    val l = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("lu"), col("event_id").as("l_event"),
        col("ts").as("ls"), col("t_end").as("le"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("ru"), col("event_id").as("r_event"),
        col("ts").as("rs"), col("t_end").as("re"))
    graft.ops.Joins.overlapJoin(l, r, Seq("lu" -> "ru"),
        "ls", "le", "rs", "re", binSize = 1800000000000L)
      .select(col("lu").as("user_id"), col("l_event"), col("r_event"))
  }

  /** Exact triangle count ([[graft.ops.Graphs.triangleCount]]) over a
    * synthetic 1500-node graph derived deterministically from orders
    * (both endpoints folded into one id space). Degree-orientation on
    * the Spark side (hub-proof O(m^1.5) wedges); the oracle counts by
    * id-orientation — the count is orientation-invariant, so the
    * engines must agree exactly.
    */
  private def qTriangles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graphs.triangleCount(
      t(s, dir, "orders").select((col("o_orderkey") % 1500).as("src"),
        (col("o_custkey") % 1500).as("dst")))

  /** Deterministic train/valid/test split manifest: every document's
    * stable md5 bucket assigns its split (900/50/50 permille) — the
    * same row lands in the same split on ANY engine and layout
    * ([[graft.ops.Sampling.assignSplit]]); per-(lang, split) counts +
    * exact character sums.
    */
  private def qSplit(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.assignSplit(t(s, dir, "documents"), col("doc_id"),
        Seq("train" -> 900, "valid" -> 50, "test" -> 50))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))

  /** Training-data mixing by weighted repetition
    * ([[graft.ops.Sampling.repeatByWeight]]): non-English docs
    * upsampled 2–3 epochs, row-level output (doc_id, lang, rep) so
    * the hash compare covers every emitted copy.
    */
  private def qDataMix(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.repeatByWeight(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          when(col("lang") === "en", 1)
            .when(col("lang").isin("es", "de"), 2)
            .otherwise(3).as("w")),
        col("w"))
      .select("doc_id", "lang", "rep")

  /** Partition-scoped upsert roundtrip: orders written partitioned by
    * priority, then a deterministic update batch (every 97th key gets
    * a new totalprice) plus an insert batch (every 101st key re-keyed
    * past the max) merged in via
    * [[graft.etl.Etl.upsertPartitioned]] — only touched partitions
    * rewritten. The readback aggregate (counts + key sums per
    * priority) equals the oracle's relational expectation of the
    * merge, proving replace/insert/keep semantics end-to-end through
    * the filesystem.
    */
  private def qUpsert(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("ups")
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    // fresh base each run: the query must be idempotent across passes
    graft.etl.Etl.writePartitioned(orders, tmp, Seq("o_orderpriority"))
    val maxKey = orders.agg(max("o_orderkey")).head.getLong(0) + 1
    val updates = orders.filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val inserts = orders.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + maxKey)
    graft.etl.Etl.upsertPartitioned(s, tmp, updates.unionByName(inserts),
      Seq("o_orderkey"), Seq("o_orderpriority"))
    graft.etl.Etl.readPartitioned(s, tmp)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("sum_key"),
        // per-row floor is exact on both engines; the BIGINT sum then
        // proves the +1000 price REPLACEMENT landed (not just the keys)
        sum(floor(col("o_totalprice")).cast("long")).as("sum_floor_price"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
  }

  /** Edit-distance near-dup pairs over the distinct part-name
    * vocabulary: q-gram inverted-index candidates + exact Levenshtein
    * verify ([[graft.ops.Dedup.editDistanceNearDups]]). With q=3 and
    * maxDist=2 the full-recall bound needs length ≥ 9 — ALL part-name
    * pairs at distance ≤ 2 share a trigram in this vocabulary
    * (verified empirically at sf0.01 and sf0.1), so the result equals
    * the oracle's exhaustive O(n²) scan.
    */
  private def qEditDistance(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.editDistanceNearDups(
      t(s, dir, "part").select("p_name").distinct(),
      "p_name", "p_name", maxDist = 2)
      .select(col("id_a").as("name_a"), col("id_b").as("name_b"), col("dist"))

  /** Ordered conversion funnel view → click → purchase over the
    * events stream table ([[graft.ops.Windows.funnel]]): stage k
    * counts users whose stage-k event lands strictly after their
    * earliest stage-(k−1) completion.
    */
  private def qFunnel(s: SparkSession, dir: String): DataFrame =
    graft.ops.Windows.funnel(t(s, dir, "events"), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))

  /** Schema'd JSON extraction from a string column (`from_json`, not
    * a per-path `get_json_object` scan — one parse yields every
    * field, codegen'd, malformed rows read null). Row-level output so
    * the hash compare covers every value.
    */
  private def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("event_id"),
      from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))("k").as("k"))

  /** Pivot wider (the complement of the `stack` pivot_longer row):
    * per-user event-type counts as columns. With the value domain
    * given explicitly, Catalyst plans ONE hash aggregation with five
    * conditional counts — no extra shuffle, no domain-discovery scan
    * (omitting the values list costs a distinct pass first).
    */
  private def qPivotWider(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = t(s, dir, "events").groupBy("user_id")
      .pivot("event_type", types).agg(count(lit(1)))
    // pivot yields null for absent cells; the relational spelling is 0
    p.select(col("user_id") +: types.map(tp =>
      coalesce(col(tp), lit(0L)).as(s"n_$tp")): _*)
  }

  /** Schema-evolution roundtrip: half the corpus written WITHOUT the
    * lang column (an old writer), half with it, read back through
    * footer-merging into the superset schema — old rows read lang as
    * null. Aggregates prove both halves and the null semantics.
    */
  private def qSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("evo")
    val docs = t(s, dir, "documents")
    docs.filter(col("doc_id") % 2 === 0).select("doc_id", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/v=1")
    docs.filter(col("doc_id") % 2 === 1).select("doc_id", "n_chars", "lang")
      .write.mode("overwrite").parquet(s"$tmp/v=2")
    graft.etl.Etl.readMergedSchema(s, tmp)
      .agg(count(lit(1)).as("n"), count(col("lang")).as("n_lang"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** Compaction roundtrip: documents scattered across 32 small files,
    * compacted (shuffle-free coalesce) to 4, aggregated — equality
    * with the direct oracle proves the rewrite is lossless; EtlSpec
    * asserts the file count.
    */
  private def qCompact(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("cmp")
    t(s, dir, "documents").repartition(32)
      .write.mode("overwrite").parquet(s"$tmp/in")
    graft.etl.Etl.compact(s, s"$tmp/in", s"$tmp/out", targetFiles = 4)
    s.read.parquet(s"$tmp/out")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
        max("doc_id").as("max_id"), sum(length(col("text"))).as("sum_chars"))
  }

  /** Sequence packing (concat-and-chunk): whitespace token counts,
    * packed per language shard in doc_id order into 512-token
    * chunks. Exact integral chunk ids; the oracle casts the DuckDB
    * window sum back to BIGINT (HUGEINT otherwise).
    */
  private def qPackChunks(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("lang"), col("doc_id"),
      graft.ops.TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
    graft.ops.Windows.packChunks(docs, "lang", "doc_id", "n_tokens", budget = 512L)
  }

  /** Bloom-prefiltered semi join: lineitem rows whose order is
    * urgent-priority. The Bloom pass drops most of the probe side
    * before the shuffle; the trailing exact semi join keeps the
    * result identical to the plain EXISTS oracle.
    */
  private def qBloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    graft.ops.Joins.bloomSemiJoin(
      t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"),
      urgent, "l_orderkey", "o_orderkey", expectedItems = 1000000L)
  }

  /** ORC roundtrip: orders → ORC on disk → read back → aggregate;
    * equality with the oracle's direct aggregation over the source
    * parquet proves the second columnar format's write/read fidelity
    * (schema, encodings, string round-trip).
    */
  private def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("orc")
    graft.etl.Etl.writeOrc(
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority"), tmp)
    graft.etl.Etl.readOrc(s, tmp)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
        sum("o_custkey").as("sum_cust"))
  }

  /** Write-audit-publish gate: a slice of orders written as an AUDITED
    * parquet table (`_AUDIT.json` manifest holding the row count and
    * the order-independent xor content checksum of the durable bytes),
    * read back through the VERIFYING reader (throws on any
    * divergence), audit summary re-emitted. The oracle recomputes the
    * identical checksum directly over the source table — equality
    * proves the write lost/duplicated nothing AND that the checksum
    * is engine/layout/partitioning-independent (the property that
    * makes it a cross-system migration gate at 100 TB).
    */
  private def qWriteAudit(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("aud")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderpriority")
    graft.etl.Etl.writeAudited(
      t(s, dir, "orders").select(cols.map(col): _*), tmp, cols)
    graft.etl.Etl.auditSummary(graft.etl.Etl.readAudited(s, tmp), cols)
  }

  /** Exact heavy hitters via a Misra-Gries sketch + one verification
    * pass: tokens occurring strictly more than 1/(200·su) of the
    * stream, where `su = clamp(n_docs/500, 1, 1024)` scales the
    * threshold with the corpus. The full distinct-token set is never
    * shuffled — the sketch holds ≤256·su counters (bounded at ~256k)
    * and its recall guarantee (freq > n/(capacity+1) always tracked)
    * makes the verified answer EQUAL to the oracle's plain
    * GROUP BY ... HAVING, which is exactly what the hash compare
    * proves on every run.
    *
    * Why scale-proportional (round-6 verdict): the sf1 scale-probe
    * fixture salts tokens per replica, diluting every share ×10 — a
    * FIXED 1/200 share bar goes empty there (and on any corpus whose
    * vocabulary grows with size, which is how real corpora behave).
    * Anchoring su to the 500-doc correctness scale holds the ABSOLUTE
    * count bar steady, so sf0.001/sf0.01 results are unchanged and
    * the 10× probe point stays populated. The one driver-side count
    * is a parquet-metadata row count.
    */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val su = math.min(math.max(1L, t(s, dir, "documents").count() / 500L), 1024L)
    graft.expr.HeavyHitters.heavyHitters(toks, col("token"),
        capacity = (256L * su).toInt, freqDen = 200L * su)
      .withColumnRenamed("value", "token")
  }

  /** Join-key skew profile on orders.o_custkey: top 25 keys by exact
    * count with integral ppm share — the pre-flight diagnostic that
    * decides salting/broadcast before a 100 TB join. Deterministic
    * under ties (count desc, key asc) so the LIMIT boundary agrees
    * across engines.
    */
  private def qKeySkew(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.keySkew(t(s, dir, "orders"), col("o_custkey"), topN = 25)

  /** BM25 document scoring against a static 3-term query with a wide
    * idf spread ('dup' is rare, 'hash' mid, 'scan' near-ubiquitous).
    * Both engines evaluate the SAME fixed-order scoring chain
    * (TextAnalysis.bm25TermSql) — floats cross the engine boundary
    * only through the 6-dp round, the q_scoring precedent.
    */
  private val Bm25Terms = Seq("dup", "hash", "scan")

  private def qBm25(s: SparkSession, dir: String): DataFrame =
    // ensure(): tokenization is the compute-heavy first stage; a
    // single-part-file corpus serialized it (v8 sf1 fixture measured
    // 60.2 s vs 0.8 s on 32 files — docs/ROUND12_NOTES.md).
    graft.ops.TextAnalysis.bm25(
      graft.util.Parallelism.ensure(t(s, dir, "documents")),
      "doc_id", col("text"), Bm25Terms)

  /** Per-language heavy tokens: the grouped Misra-Gries path — each
    * language's sketch is independent, candidates verified exactly,
    * equality with the per-group GROUP BY HAVING oracle by the same
    * recall-guarantee argument as q_heavy_hitters.
    */
  private def qGroupedHeavy(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    graft.expr.HeavyHitters
      .heavyHittersByGroup(toks, col("lang"), col("token"), capacity = 256, freqDen = 100L)
      .withColumnRenamed("grp", "lang").withColumnRenamed("value", "token")
  }

  /** Mergeable distinct-count sketches: per-priority HLL sketches
    * (the pre-aggregate a 100 TB pipeline stores per day/shard),
    * UNIONED into a global estimate without touching raw rows again —
    * accuracy contract in-row like q_approx_distinct (lgConfigK=14 →
    * ~0.8% expected error, asserted < 3%).
    */
  private def qHllPartial(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val merged = o.groupBy("o_orderpriority")
      .agg(expr("hll_sketch_agg(o_custkey, 14)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    o.agg(countDistinct(col("o_custkey")).as("n_exact"))
      .crossJoin(broadcast(merged))
      .select(col("n_exact"),
        (abs(col("est") - col("n_exact")) / col("n_exact") < 0.03).as("within_3pct"))
  }

  /** Overlapping token-window chunking (64-token windows, stride 48 →
    * 16-token overlap): the RAG/training splitter, all-integer
    * arithmetic — the mirror is bit-exact including the clamped final
    * window per document.
    */
  private def qChunkText(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.chunkTokens(
      graft.util.Parallelism.ensure(t(s, dir, "documents")),
      "doc_id", col("text"), chunkTokens = 64, stride = 48)

  // ---- wave 8: winnowing / span dedup / semantic dedup / SQL surface --

  private val WinnowK = 4         // gram size (tokens)
  private val WinnowW = 4         // window size (hashes)
  private val WinnowCap = 50L     // hot-fingerprint doc-frequency cap
  private val WinnowMinShared = 3L

  /** Winnowing overlap detection: documents sharing ≥ 3 selected
    * fingerprints (MOSS — any shared run of ≥ k+w−1 tokens guarantees
    * a shared fingerprint, and the selected set is ~2/(w+1) the size
    * of the full gram index, so this is the CHEAP overlap join).
    * Hot fingerprints (> WinnowCap docs) are dropped by broadcast
    * anti-join exactly like [[graft.ops.Dedup.invertedIndex]] —
    * boilerplate fps otherwise cost f² pairs — and the cap is
    * mirrored in the oracle's QUALIFY.
    */
  private def qWinnow(s: SparkSession, dir: String): DataFrame = {
    val fp = graft.ops.TextAnalysis.winnowFingerprints(
      t(s, dir, "documents"), "doc_id", col("text"), WinnowK, WinnowW)
    val hot = fp.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > WinnowCap).select("fp")
    val idx = fp.join(broadcast(hot), Seq("fp"), "left_anti")
    val a = idx.select(col("fp"), col("doc_id").as("id_a"))
    val b = idx.select(col("fp"), col("doc_id").as("id_b"))
    a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinnowMinShared)
  }

  /** Cross-document duplicated-span removal (token-level Lee et al.
    * 2022): every 5-gram occurring >1× corpus-wide marks its positions
    * duplicated; docs come back with those spans cut and the exact
    * removed-token count.
    */
  private def qSpanDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.removeDuplicatedSpans(
      t(s, dir, "documents"), "doc_id", col("text"), k = 5)

  /** Maximal duplicated spans ([[graft.ops.Dedup.duplicatedSpanRuns]])
    * at the same k=5 — the exact-boundary span inventory the fidelity
    * contract promises (round-14): each row one maximal ≥5-token run
    * occurring more than once corpus-wide, boundary-exact.
    */
  private def qSpanExact(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.duplicatedSpanRuns(
      t(s, dir, "documents"), "doc_id", col("text"), k = 5)

  /** BYTE-granularity maximal duplicated spans
    * ([[graft.ops.Dedup.duplicatedByteSpanRuns]]) at k = 50 — the Lee
    * et al. 2022 ExactSubstr unit and threshold exactly (bytes@50),
    * closing the tokens-vs-bytes divergence q_span_exact documents:
    * each row one maximal ≥50-byte run occurring more than once
    * corpus-wide, 0-based inclusive UTF-8 byte offsets.
    */
  private def qSpanBytes(s: SparkSession, dir: String): DataFrame =
    // ensure(): the per-byte gram fan-out (~300 rows/doc) is exactly
    // the compute-heavy map kernel that must not ride raw single-file
    // scan parallelism (the q_cdc_chunks 2× lesson; registry-gated).
    graft.ops.Dedup.duplicatedByteSpanRuns(
      graft.util.Parallelism.ensure(t(s, dir, "documents")),
      "doc_id", col("text"), k = 50)

  /** SemDeDup-style semantic dedup keep-list: nearest-centroid
    * clustering (the q_ivf_topk assignment, oracle-expressible seed
    * centroids), within-cluster cosine ≥ 0.4 pairs, connected
    * components → min-id keeper over ALL vectors (singletons keep
    * themselves).
    */
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cents = graft.ops.Similarity.seedCentroids(e, "vec_id", "embedding", 8)
    val pairs = graft.ops.Similarity.semanticNearDupPairs(
      e, "vec_id", "embedding", cents, minCosine = 0.4)
    graft.ops.Clusters.resolveDuplicates(e.select("vec_id"), "vec_id", pairs)
  }

  /** GROUPING SETS — the general subtotal lattice (rollup and cube are
    * its specializations; this row pins the MIXED case: the two
    * one-column subtotals plus the grand total, with grouping_id
    * disambiguating which set a row belongs to). One Expand + hash
    * aggregate, count/min/max only.
    */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** Rank-family window functions (dense_rank / percent_rank /
    * cume_dist / ntile) over a keyed window with a unique (acctbal,
    * custkey) order — ties impossible, so every function is
    * deterministic. The two ratio functions cross engines as
    * FLOOR-ppm integers, not 6-dp rounds: rank/n is the same IEEE
    * division on both engines, but when n = 2^a·5^b the true value
    * sits exactly on a decimal midpoint and round() diverges (Spark
    * HALF_UP on the double's full expansion vs DuckDB half-to-even
    * on the shortest repr — bit at sf0.1, where 640 customers per
    * nation put cume_dist on x.xxxxxx5). floor(x·1e6) depends only
    * on the shared double, never on a rounding convention.
    */
  private def qRankFunctions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey").orderBy(col("c_acctbal"), col("c_custkey"))
    t(s, dir, "customer").select(
      col("c_nationkey"), col("c_custkey"),
      dense_rank().over(w).cast("long").as("drank"),
      floor(percent_rank().over(w) * 1000000).cast("long").as("prank_ppm"),
      floor(cume_dist().over(w) * 1000000).cast("long").as("cdist_ppm"),
      ntile(4).over(w).cast("long").as("quartile"))
  }

  /** Quoted-CSV roundtrip: a derived column carrying BOTH the
    * delimiter and the quote char (`, segment="BUILDING"`) goes
    * through write-CSV → read-CSV (RFC-4180 double-quote escaping —
    * Spark's default escape is backslash, which DuckDB/Excel/readr
    * would misparse; `escape="` pins the interoperable dialect), then
    * exact aggregates are compared against the oracle computing the
    * same from the ORIGINAL parquet — equality proves the quoting
    * survived. Money sums in integer cents (round(x·100) per row,
    * long sum): float sums are order-dependent, integer sums are not.
    */
  private def qCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tricky = t(s, dir, "customer").select(
      col("c_custkey"),
      concat(col("c_name"), lit(", segment=\""), col("c_mktsegment"), lit("\"")).as("c_desc"),
      col("c_acctbal"))
    val out = scratchDir("csv_roundtrip")
    tricky.write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true").option("escape", "\"")
      .csv(out)
    s.read.option("header", "true").option("escape", "\"")
      .schema("c_custkey long, c_desc string, c_acctbal double").csv(out)
      .agg(count(lit(1)).as("n"),
        sum(length(col("c_desc"))).cast("long").as("sum_desc_len"),
        min("c_desc").as("min_desc"),
        sum(round(col("c_acctbal") * 100).cast("long")).cast("long").as("sum_bal_cents"))
  }

  /** Synchronous label propagation (4 fixed rounds) over the same
    * customer→order graph as q_pagerank. Synchronous update + exact
    * counts + min-label tie-break make the result a pure function of
    * the graph — mirrored round-for-round as DuckDB chained CTEs
    * (QUALIFY argmax ≡ the struct-min aggregate). The SEMANTIC
    * community-recovery behavior is spec-tested on planted cliques;
    * this row proves cross-engine exactness of the iteration.
    */
  private def qLabelProp(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graphs.labelPropagation(
      t(s, dir, "orders").select(
        col("o_custkey").as("src"), (-col("o_orderkey")).as("dst")),
      rounds = 4)

  /** The [[qLabelProp]] mirror's CTE body (shared with
    * [[qModularity]]'s oracle): the orders graph, symmetrized edges,
    * and one (count → QUALIFY-argmax → carry-forward) CTE triple per
    * round, ending at `lab<rounds>`.
    */
  private def lpaOracleCtes(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS id, l.lbl, count(*) AS c
         |  FROM edges e JOIN lab${i - 1} l ON e.src = l.id
         |  GROUP BY 1, 2),
         |b$i AS (
         |  SELECT id, lbl FROM c$i
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY c DESC, lbl) = 1),
         |lab$i AS (
         |  SELECT p.id, COALESCE(b.lbl, p.lbl) AS lbl
         |  FROM lab${i - 1} p LEFT JOIN b$i b ON p.id = b.id)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS (
       |  SELECT DISTINCT o_custkey AS src, -o_orderkey AS dst FROM orders),
       |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |lab0 AS (SELECT DISTINCT src AS id, src AS lbl FROM edges),
       |$rs""".stripMargin
  }

  /** DuckDB mirror of [[qLabelProp]]: one (count → QUALIFY-argmax →
    * carry-forward) CTE triple per round, from [[lpaOracleCtes]].
    */
  private def lpaOracle(rounds: Int): String =
    s"""WITH ${lpaOracleCtes(rounds)}
       |SELECT id, lbl AS community FROM lab$rounds""".stripMargin

  /** Exact integer-arithmetic 2σ outliers on order value per priority
    * class ([[graft.ops.Profiling.sigmaOutliers]]): cents in, the
    * division-free band test in decimal(38,0) ≡ DuckDB HUGEINT — the
    * flag set is bit-identical across engines because no float mean /
    * stddev is ever computed.
    *
    * TPC-H totalprice is platykurtic — a 2σ band on the raw column
    * flags NOTHING at any scale, which made this row vacuous (round-6
    * verdict). Both engines therefore plant the same deterministic
    * heavy tail: every `o_orderkey % 37 == 0` row gets its price ×50
    * (the q_blocking_metrics perturbation idiom), so the flag set is
    * exactly the planted rows — non-empty (~40 rows at sf0.001,
    * scaling linearly) and still division-free exact. Magnitudes:
    * wild price ≈ 2.8e9 cents, per-group n·SS ≈ 7e33 at sf100 — well
    * inside decimal(38,0)/HUGEINT.
    */
  private def qOutliers(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.sigmaOutliers(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        (round(col("o_totalprice") * 100).cast("long") *
          when(col("o_orderkey") % 37 === 0, lit(50L)).otherwise(lit(1L)))
          .as("price_cents")),
      Seq("o_orderpriority"), col("price_cents"), sigmaNum = 2, sigmaDen = 1)

  /** Messy fetch-URL variants (case, default ports, `www.`, tracking
    * params, param order, fragments, trailing slashes) synthesized
    * deterministically from customer keys — both engines build the
    * SAME raw strings with the SAME arithmetic.
    */
  private def urlVariant(ck: Column): Column = {
    // moduli coprime to the 5-way variant split, so the SAME item is
    // fetched through different messy spellings and the groups collapse
    val item = (ck % 97).cast("string")
    val post = (ck % 47).cast("string")
    when(ck % 5 === 0, concat(lit("HTTPS://Shop.Example.COM:443/items/"), item,
        lit("/?utm_source=x&b=2&a=1")))
      .when(ck % 5 === 1, concat(lit("https://shop.example.com/items/"), item, lit("?a=1&b=2")))
      .when(ck % 5 === 2, concat(lit("https://www.shop.example.com/items/"), item, lit("#frag")))
      .when(ck % 5 === 3, concat(lit("http://Blog.example.com:80/posts/"), post,
        lit("/?fbclid=zz&z=9&y=8")))
      .otherwise(concat(lit("not a url "), ck.cast("string")))
  }

  /** URL-level exact dedup ([[graft.ops.Urls.canonicalizeUrl]]) — the
    * refetch collapse that runs BEFORE content dedup in a web corpus:
    * canonicalize, hash-groupBy, count. Variants 0 and 1 of the same
    * item collapse (case/port/utm/order all erased); unparseable rows
    * group under NULL. The canonicalizer is a map-only codegen Column
    * program; the oracle runs the step-identical DuckDB regex/array
    * program ([[graft.ops.Urls.canonicalizeUrlSql]]).
    */
  private def qUrlNormalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(graft.ops.Urls.canonicalizeUrl(urlVariant(col("c_custkey"))).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_fetches"))

  /** Deterministic weighted sampling ([[graft.ops.Sampling
    * .weightedSampleByGroup]], Duffield priority sampling in exact
    * integer arithmetic): top-20 smallest `u div w` per market
    * segment, weight = account balance in cents clamped to ≥ 1. The
    * selected SET is engine/layout/rerun-stable — proven by the
    * hash-match, since one different pick would flip the row hash.
    */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.weightedSampleByGroup(
      t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"),
        greatest(lit(1L), round(col("c_acctbal") * 100).cast("long")).as("w_cents")),
      Seq("c_mktsegment"), col("c_custkey"), col("w_cents"), k = 20)

  /** Per-column ANALYZE profile ([[graft.ops.Profiling.tableProfile]]):
    * one scan, one Expand-planned multi-distinct aggregate, long-form
    * output (null counts / exact ndv / min-max as strings). Profiled
    * over a projection both engines build identically, including a
    * synthesized-null column so n_nulls is non-vacuous.
    */
  private def qColProfile(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.tableProfile(
      t(s, dir, "orders").select(col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate").cast("date").as("o_date"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("prio")),
      Seq("o_custkey", "o_orderstatus", "o_date", "prio"))

  /** Multi-source BFS hop distances ([[graft.ops.Graphs.bfsDistances]])
    * over the order↔supplier bipartite graph from lineitem (suppliers
    * as negated ids), seeded at nation-0 suppliers, 4 rounds — the
    * k-hop lineage/contamination frontier (seeds: the first five
    * supplier ids — present at every scale factor). All-integer dists; the
    * oracle replays the identical frontier expansion as chained CTEs.
    */
  private def qBfs(s: SparkSession, dir: String): DataFrame = {
    val e0 = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("a"), (-col("l_suppkey")).as("b")).distinct()
    graft.ops.Graphs.bfsDistances(
      e0.unionByName(e0.select(col("b").as("a"), col("a").as("b"))),
      t(s, dir, "supplier").filter(col("s_suppkey") <= 5)
        .select((-col("s_suppkey")).as("id")),
      rounds = 4,
      // e0 is already .distinct() above and the symmetrized halves are
      // sign-disjoint (orderkeys ≥ 0, negated suppkeys < 0), so the
      // library's dedup distinct re-shuffled an already-unique union;
      // BFS min-dist is idempotent to duplicate edges regardless, so
      // dropping it cannot change the result (guide §2.4).
      dedupEdges = false)
  }

  /** Weighted shortest paths ([[graft.ops.Graphs.shortestPaths]]) on
    * the same order–supplier graph as [[qBfs]], edge weight =
    * l_quantity — a low-quantity 2-hop route beats a high-quantity
    * direct edge, the cost-vs-hops distinction BFS cannot make. Seeds
    * = suppliers 1–5 at distance 0, 4 relaxation rounds.
    */
  private def qSssp(s: SparkSession, dir: String): DataFrame = {
    val e0 = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("a"), (-col("l_suppkey")).as("b"),
        col("l_quantity").cast("long").as("w"))
    graft.ops.Graphs.shortestPaths(
      e0.unionByName(e0.select(col("b").as("a"), col("a").as("b"), col("w"))),
      t(s, dir, "supplier").filter(col("s_suppkey") <= 5)
        .select((-col("s_suppkey")).as("id")),
      rounds = 4)
  }

  /** Cohort retention ([[graft.ops.Windows.cohortRetention]]) over the
    * events stream table: users cohorted by first-activity DAY, one
    * count per (cohort, offset) — the retention triangle. All-integer
    * epoch-micro arithmetic on both engines.
    */
  private def qRetention(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    graft.ops.Windows.cohortRetention(
      raw.select(col("user_id"), tsMicros(raw, "ts").as("t_us")),
      "user_id", "t_us", period = 86400000000L)
  }

  /** Trailing time-RANGE window: events per user in the hour ENDING at
    * each event (peer-inclusive RANGE frame over integral epoch
    * micros; q_window_frame covers the ROWS form). Value sum carried
    * in exact floored micro-units, so both engines agree bitwise.
    */
  private def qRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"), col("event_id"),
      tsMicros(raw, "ts").as("t_us"),
      floor(col("value") * lit(1000000.0)).cast("long").as("v_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("t_us")
      .rangeBetween(-3600000000L, 0L)
    ev.select(col("user_id"), col("event_id"), col("t_us"),
      count(lit(1)).over(w).as("n_trailing"),
      sum("v_micro").over(w).as("sum_v_micro"))
  }

  /** Exact per-group percentiles
    * ([[graft.ops.Profiling.exactPercentiles]]): order-value cents at
    * p10/25/50/75/90/99 per order priority by type-1 rank selection —
    * reproducible quality cutoffs, no interpolation, no sketch.
    */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.exactPercentiles(
      t(s, dir, "orders").select(col("o_orderpriority"),
        floor(col("o_totalprice") * 100).cast("long").as("cents")),
      Seq("o_orderpriority"), col("cents"), Seq(10, 25, 50, 75, 90, 99))

  /** Deterministic weighted interleave
    * ([[graft.ops.Sampling.interleaveOrder]]): documents scheduled
    * into a training-mix order with per-source weights derived from
    * the source id (suffix mod 4 + 1) — the same stride formula and
    * md5 rank order on both engines.
    */
  private def qInterleave(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.interleaveOrder(
      t(s, dir, "documents").select(col("doc_id"), col("source")),
      "source", col("doc_id"),
      substring(col("source"), 4, 10).cast("long") % 4 + 1)

  /** PMI collocations ([[graft.ops.TextAnalysis.collocations]]):
    * adjacent-token pairs of the documents corpus scored by pointwise
    * mutual information in floored micro-nats — one fixed-order IEEE
    * log over four integer counts, hash-exact cross-engine.
    */
  private def qPmi(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.collocations(
      t(s, dir, "documents"), col("text"), minCount = 5L)

  /** URL path-hierarchy rollup ([[graft.ops.Urls.pathPrefixCounts]]):
    * the canonicalized fetch log rolled up per ancestor prefix to
    * depth 2 — the site-structure view crawl budgeting reads.
    */
  private def qPathRollup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Urls.pathPrefixCounts(
      t(s, dir, "customer")
        .select(graft.ops.Urls.canonicalizeUrl(urlVariant(col("c_custkey"))).as("u"))
        .filter(col("u").isNotNull),
      col("u"), maxDepth = 2)

  /** TF-IDF cosine rescoring
    * ([[graft.ops.TextAnalysis.tfidfCosinePairs]]) of the minhash
    * candidates — the lexical-vector verify stage between cheap
    * candidate generation and an embedding model; integer weights
    * make even the cosine hash-exact.
    */
  private def qTfidfCosine(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cand = graft.ops.Dedup.minhashLshCandidates(
      docs, "doc_id", col("text"), n = 3, k = 8, bands = 4,
      maxBucketSize = Some(LshCap))
    graft.ops.TextAnalysis.tfidfCosinePairs(docs, "doc_id", col("text"), cand)
  }

  /** State-duration runs ([[graft.ops.Windows.stateDurations]]): each
    * user's event stream collapsed into consecutive same-type
    * episodes — run-length telemetry, all-integer.
    */
  private def qStateRuns(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    graft.ops.Windows.stateDurations(
      raw.select(col("user_id"), tsMicros(raw, "ts").as("t_us"),
        col("event_type")),
      Seq("user_id"), "t_us", "event_type")
  }

  /** Per-item recommendations: the q_assoc_rules table cut to each
    * antecedent's top-3 consequents by (lift, confidence, item) via
    * [[graft.ops.Windows.groupedTopK]] — the serving-table compose.
    */
  private def qRecs(s: SparkSession, dir: String): DataFrame = {
    val rules = graft.ops.Graphs.associationRules(
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      maxDegree = 50, minShared = 2L)
    graft.ops.Windows.groupedTopK(rules, Seq("item_a"), col("lift_ppm"),
        Seq(negate(col("confidence_ppm")), col("item_b")), k = 3)
      .select("item_a", "item_b", "lift_ppm", "confidence_ppm", "rnk")
  }

  /** Linear-interpolation resampling
    * ([[graft.ops.Windows.resampleLinear]]): the q_resample series in
    * integral cents interpolated between neighbors on the daily grid,
    * LOCF past the last observation — one truncating division per
    * sample, exact on both engines.
    */
  private def qResampleLinear(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"), tsMicros(raw, "ts").as("t_us"),
      floor(col("value") * 100).cast("long").as("cents"), col("event_id"))
    graft.ops.Windows.resampleLinear(ev, Seq("user_id"), "t_us", "cents",
      "event_id", step = 86400000000L)
  }

  /** Min-max scaling ([[graft.ops.Profiling.minMaxScale]]): customer
    * balance cents scaled to exact ppm of the segment's range — the
    * bounded-interval companion of q_zscore, no envelope needed.
    */
  private def qMinmax(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.minMaxScale(
      t(s, dir, "customer"), Seq("c_mktsegment"), "c_custkey",
      floor(col("c_acctbal") * 100))

  /** 2-D skyline ([[graft.ops.Profiling.skyline2d]]): parts Pareto-
    * optimal in (price, size) — no other part is cheaper AND smaller.
    */
  private def qSkyline(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.skyline2d(
      t(s, dir, "part"), "p_partkey",
      floor(col("p_retailprice")), col("p_size"))

  /** Functional-dependency discovery
    * ([[graft.ops.Profiling.functionalDependency]]) on orders: the
    * primary key determines the customer (holds, 0 violations) while
    * customer→priority and priority→status are genuinely violated —
    * one exact row each.
    */
  private def qFd(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.functionalDependency(
      t(s, dir, "orders"),
      Seq("o_orderkey" -> "o_custkey",
        "o_custkey" -> "o_orderpriority",
        "o_orderpriority" -> "o_orderstatus"))

  /** Kaplan–Meier survival ([[graft.ops.Windows.kaplanMeier]]): per
    * user, duration = active span in days, event = the user purchased
    * (non-purchasers are censored at their span) — the churn-study
    * shape; the log-space curve is exact BIGINT arithmetic.
    */
  private def qSurvival(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val per = ev
      .select(col("user_id"), tsMicros(ev, "ts").as("t"), col("event_type"))
      .groupBy("user_id")
      .agg(max("t").as("mx"), min("t").as("mn"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("ev"))
      .select(expr("(mx - mn) div 86400000000L").as("dur"),
        (col("ev") === 1L).as("event"))
    graft.ops.Windows.kaplanMeier(per, "dur", col("event"))
  }

  /** One UNION-ALL arm of the q_fd oracle for the pair a → b. */
  private def fdArm(a: String, b: String): String =
    s"""SELECT '$a' AS det, '$b' AS dep, count(*) AS n_keys,
       |  CAST(sum(CASE WHEN imgs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
       |  CAST(max(imgs) AS BIGINT) AS max_images,
       |  CAST(sum(CASE WHEN imgs > 1 THEN rws ELSE 0 END) AS BIGINT) AS n_violating_rows
       |FROM (
       |  SELECT $a, count(DISTINCT $b) +
       |    CASE WHEN sum(CASE WHEN $b IS NULL THEN 1 ELSE 0 END) > 0 THEN 1 ELSE 0 END AS imgs,
       |    count(*) AS rws
       |  FROM orders WHERE $a IS NOT NULL GROUP BY 1)""".stripMargin

  /** Sorted-neighborhood blocking
    * ([[graft.linkage.Blocking.sortedNeighborhood]]): customers paired
    * with their 3 nearest name-order neighbors — the typo-tolerant,
    * linear-budget alternative to equi-key blocking.
    */
  private def qSortedBlocking(s: SparkSession, dir: String): DataFrame =
    graft.linkage.Blocking.sortedNeighborhood(
      t(s, dir, "customer"), "c_custkey", col("c_name"), w = 3)

  /** Rand index ([[graft.ops.Clusters.randIndex]]) between two
    * clusterings of the corpus — exact content identity (md5) vs the
    * normalized rolling-hash fingerprint: quantifies exactly how much
    * the normalization merges, as closed-form pair counts (no pair
    * table ever materializes).
    */
  private def qRandIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.Clusters.randIndex(
      docs.select(col("doc_id"), md5(col("text")).as("cl")), "doc_id", "cl",
      docs.select(col("doc_id"),
        graft.ops.TextAnalysis.fingerprint(col("text")).as("cl")), "doc_id", "cl")
  }

  /** A/B independence check: users split by the parity of their id,
    * "converted" = has a purchase event; [[graft.ops.Profiling
    * .chiSquare]] on (variant, converted) — a hash-based variant must
    * read independent, and the exact χ² row IS that certificate.
    */
  private def qAbTest(s: SparkSession, dir: String): DataFrame = {
    val users = t(s, dir, "events")
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .select((col("user_id") % 2).as("variant"), col("converted"))
    graft.ops.Profiling.chiSquare(users, col("variant"), col("converted"))
  }

  /** Time-respecting reachability ([[graft.ops.Graphs.temporalBfs]])
    * over the customer↔supplier interaction graph (edges at the
    * line item's ship day, both directions): earliest arrival from the
    * first three customers — the contamination-spread/influence shape
    * where plain BFS overstates reach.
    */
  private def qTemporalBfs(s: SparkSession, dir: String): DataFrame = {
    val e0 = t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), (-col("l_suppkey")).as("sp"),
        datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("tt"))
      .distinct()
    val edges = e0.select(col("c").as("src"), col("sp").as("dst"), col("tt"))
      .unionByName(e0.select(col("sp").as("src"), col("c").as("dst"), col("tt")))
    graft.ops.Graphs.temporalBfs(edges,
      t(s, dir, "customer").filter(col("c_custkey") <= 3).select("c_custkey"),
      rounds = 4, startTime = 0L,
      // e0 is already .distinct() above and the symmetrized halves are
      // sign-disjoint (custkeys ≥ 0, negated suppkeys < 0) — the
      // library dedup would re-shuffle an already-unique union, and
      // min(arrival) is duplicate-idempotent anyway (see temporalBfs).
      dedupEdges = false)
  }

  /** Duplicate-pair EVIDENCE: for every q_minhash_lsh candidate pair,
    * the shared-shingle count plus the lexicographic first/last shared
    * shingle — the explainability row a reviewer of a dedup decision
    * actually reads. Pure compose of the LSH candidates with the
    * uncapped inverted index.
    */
  private def qDupEvidence(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sh = graft.ops.Dedup.shingleSets(docs, "doc_id", col("text"), 3)
    val cand = graft.ops.Dedup.minhashLshCandidatesFromShingles(
      sh, k = 8, bands = 4, maxBucketSize = Some(LshCap))
    val idx = graft.ops.Dedup.invertedIndex(sh, "id", col("sh"), None)
    cand
      .join(idx.toDF("id_a", "shingle"), Seq("id_a"))
      .join(idx.toDF("id_b", "shingle"), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"),
        min("shingle").as("first_shingle"), max("shingle").as("last_shingle"))
  }

  /** Dedup threshold-sensitivity curve: exact-pair counts per Jaccard
    * decile from the 0.4 floor up (prefix filtering guarantees full
    * recall at its own floor) — the
    * how-many-pairs-would-each-threshold-remove decision row.
    */
  private def qDedupCurve(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.ngramJaccardPairsPrefix(
        t(s, dir, "documents"), "doc_id", col("text"), n = 3, minJaccard = 0.4)
      .select(floor(col("jaccard") * 10).cast("long").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_pairs"))

  /** Incremental LSH dedup
    * ([[graft.ops.Dedup.minhashLshCandidatesCross]]): the 5% "new
    * batch" (doc_id % 20 = 0) against the standing 95% corpus —
    * corpus×corpus pairs never form; both sides bucketed together so
    * the cap censors exactly like a full-corpus run.
    */
  private def qIncrLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val sh = graft.ops.Dedup.shingleSets(docs, "doc_id", col("text"), 3)
    graft.ops.Dedup.minhashLshCandidatesCross(
      sh.filter(col("id") % 20 === 0), sh.filter(col("id") % 20 =!= 0),
      k = 8, bands = 4, maxBucketSize = Some(LshCap))
  }

  /** Exact weighted median ([[graft.ops.Profiling.weightedMedian]]):
    * order dollars per priority, weighted by the order's line-item
    * count — the robust center where each order counts as many times
    * as it has lines.
    */
  private def qWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val cnt = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("w"))
    graft.ops.Profiling.weightedMedian(
      t(s, dir, "orders").join(cnt, Seq("o_orderkey"))
        .select(col("o_orderpriority"),
          floor(col("o_totalprice")).cast("long").as("v"), col("w")),
      Seq("o_orderpriority"), col("v"), col("w"))
  }

  /** Reciprocal rank fusion ([[graft.ops.Similarity.rrfFuse]]): the
    * float-cosine shortlist (q_ann_topk) ensembled with the
    * int8-code shortlist (q_ann_int8) for the same 5 queries — the
    * hybrid-retrieval shape, scored in exact integer micro-units so
    * the fused ranking hash-matches.
    */
  private def qRrf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val cos = graft.ops.Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank")
    val i8 = graft.ops.Similarity.searchInt8(
        emb, Seq(0L, 1L, 2L, 3L, 4L), "vec_id", "embedding", EmbDim, k = 5)
      .select("query_id", "neighbor_id", "rank")
    graft.ops.Similarity.rrfFuse(cos.unionByName(i8), k = 5)
  }

  /** Waterfall enrichment ([[graft.ops.Joins.waterfallJoin]]): orders
    * enriched from customer through two key levels — the exact id
    * (synthetically missing for every third key) falling back to an
    * alternate id (missing for every seventh) — grouped by which
    * level matched; the %21 overlap lands in the NULL (unmatched)
    * bucket, proving pass-through.
    */
  private def qWaterfall(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      when(col("o_custkey") % 3 === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey")).as("k1"),
      when(col("o_custkey") % 7 === 0, lit(null).cast("long"))
        .otherwise(-col("o_custkey")).as("k2"))
    val r = t(s, dir, "customer").select(col("c_custkey").as("rk1"),
      (-col("c_custkey")).as("rk2"), col("c_acctbal"))
    graft.ops.Joins.waterfallJoin(l, r, Seq("k1" -> "rk1", "k2" -> "rk2"))
      .groupBy("matched_level")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("c_acctbal")).cast("long")).as("sum_floor_bal"))
  }

  /** Robust per-row z-scores ([[graft.ops.Profiling.robustZ]]): order
    * cents against the priority class's median/MAD — the q_mad stats
    * applied row-wise, exact ppm with NO float and no envelope.
    */
  private def qRobustZ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.robustZ(
      t(s, dir, "orders").select(col("o_orderpriority"), col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents")),
      Seq("o_orderpriority"), "o_orderkey", col("cents"))

  /** Association rules ([[graft.ops.Graphs.associationRules]]) over
    * the q_copurchase basket fixture: directional confidence + lift in
    * exact ppm on the same censored (hub-capped) universe.
    */
  private def qAssocRules(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graphs.associationRules(
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      maxDegree = 50, minShared = 2L)

  /** Half-life-decayed engagement scores
    * ([[graft.ops.Windows.decayedSum]]): per-user event value in
    * cents, halving every 7 days from the stream's max time — exact
    * power-of-2 weights, order-independent BIGINT sum.
    */
  private def qDecayed(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    graft.ops.Windows.decayedSum(
      ev.select(col("user_id"), tsMicros(ev, "ts").as("t_us"),
        floor(col("value") * 100).cast("long").as("v_cents")),
      Seq("user_id"), "t_us", col("v_cents"), halfLife = 604800000000L)
  }

  /** Chi-square association ([[graft.ops.Profiling.chiSquare]])
    * between document source and language — the is-my-stratification-
    * independent test, one exactly-reproducible row.
    */
  private def qChiSquare(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.chiSquare(
      t(s, dir, "documents"), col("source"), col("lang"))

  /** TF-IDF document keywords
    * ([[graft.ops.TextAnalysis.topTfidfTerms]]): top-3 terms per
    * document by tf·⌊ln(N/df)·10⁶⌋ — total (score, term) order, so
    * the full ranking hash-matches.
    */
  private def qTfidf(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.topTfidfTerms(
      t(s, dir, "documents"), "doc_id", col("text"), k = 3)

  /** Rendezvous shard assignment ([[graft.ops.Sampling
    * .rendezvousShard]]): every customer key assigned under 10 AND 11
    * shards; the per-shard report carries `n_stay` — the count that
    * did NOT move on resize, which the HRW property says is ~n·10/11
    * overall (each old shard keeps its keys unless shard 10 wins the
    * rendezvous). Both balance and stability in one mirrorable row
    * set.
    */
  private def qShards(s: SparkSession, dir: String): DataFrame = {
    // 21 md5s per row of narrow compute — without the repartition the
    // whole scan's 1-2 input partitions serialize it (probe read 25×
    // for 10× rows; ensure() restores map-side parallelism)
    val k = graft.util.Parallelism.ensure(
      t(s, dir, "customer").select(col("c_custkey").as("key")))
    k.select(col("key"),
        graft.ops.Sampling.rendezvousShard(col("key"), 10).as("shard"),
        graft.ops.Sampling.rendezvousShard(col("key"), 11).as("__s11"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("shard") === col("__s11"), 1L).otherwise(0L)).as("n_stay"))
  }

  /** Golden-record survivorship ([[graft.ops.Clusters.goldenRecord]]):
    * synthetic duplicate clusters (`c_custkey div 3`), each output
    * field surviving under its own rule — name by highest balance,
    * address by longest string, phone by newest key. One hash
    * aggregate; the oracle mirrors each argmax as a composite
    * struct max.
    */
  private def qGolden(s: SparkSession, dir: String): DataFrame =
    graft.ops.Clusters.goldenRecord(
      t(s, dir, "customer")
        .select(expr("c_custkey div 3").as("cluster_id"),
          col("c_name"), col("c_mktsegment"),
          col("c_acctbal"), col("c_custkey")),
      "cluster_id",
      Seq("c_name" -> col("c_acctbal"),      // richest record's name
        "c_mktsegment" -> col("c_custkey"),  // newest record's segment
        "c_acctbal" -> col("c_custkey")))    // newest balance

  /** Last-touch attribution: each purchase joined to the user's most
    * recent click at-or-before it — the marketing shape of
    * [[graft.ops.Joins.asofJoin]], exercising the operator on a
    * SELF-source (same event stream, two type slices) with a matched-
    * time passthrough.
    */
  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsMicros(ev, "ts").as("t_conv"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("u"), tsMicros(ev, "ts").as("t_click"))
    graft.ops.Joins.asofJoin(purchases, clicks, Seq(("user_id", "u")),
        "t_conv", "t_click", matchedTimeCol = Some("t_touch"))
      .select(col("event_id"), col("user_id"), col("t_conv"), col("t_touch"),
        (col("t_conv") - col("t_touch")).as("delta_us"))
  }

  /** MinHash LSH recall, MEASURED against the uncapped exact pairs at
    * the S-curve's own target threshold (k=8, bands=4 ⇒ r=2, s-curve
    * midpoint (1/4)^(1/2) = 0.5 = JacMinJaccard): candidates ∩ exact
    * over exact, in exact integer ppm. The quantified version of the
    * "recall ≥ 90% at the caller's threshold" design claim — and both
    * sides are SQL-expressible, so the report itself is hash-checked.
    */
  private def qMinhashRecall(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // Each pipeline re-derives the shingle sets from the scan. The
    // tradeoff was re-measured at sf1 (r12, the verdict's watch item;
    // docs/ROUND12_NOTES.md):
    // rederive 12.0 s vs checkpoint-shared 11.4 s vs cache-shared 19.4 s
    // (sf0.1 same day: 6.6 / 5.8 / 7.4; r11 calm: 5.6 / 6.4 / 13.4) —
    // rederive and localCheckpoint are within run-to-run noise of each
    // other at BOTH scales and flip ordering between sessions; only the
    // columnar cache is consistently worst (array encoding). Rederive is
    // kept because it is the scale-safe form: localCheckpoint truncates
    // lineage, so on a real cluster a lost executor makes the shingle
    // blocks unrecoverable (job failure), while re-derivation is a
    // codegen'd map over the scan that any executor can replay. The
    // FromShingles split stays available for corpora where tokenization
    // truly dominates.
    val sh = graft.ops.Dedup.shingleSets(docs, "doc_id", col("text"), 3)
    val exact = graft.ops.Dedup
      .ngramJaccardPairsPrefixFromShingles(sh, minJaccard = JacMinJaccard)
      .select("id_a", "id_b")
    val cand = graft.ops.Dedup.minhashLshCandidatesFromShingles(
        sh, k = 8, bands = 4, maxBucketSize = Some(LshCap))
      .select("id_a", "id_b")
    val hit = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_cand"), col("n_hit"),
        expr("(n_hit * 1000000L) div n_exact").as("recall_ppm"))
  }

  /** Asymmetric containment pairs
    * ([[graft.ops.Dedup.containmentPairs]]): the quoted-inside
    * duplication mode, same trigram machinery and doc-frequency cap as
    * q_jaccard_exact but with exact integer-ppm containments and an
    * either-direction threshold.
    */
  private def qContainment(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.containmentPairs(
      t(s, dir, "documents"), "doc_id", col("text"), n = 3,
      minContainmentPpm = 500000L, maxDocFreq = Some(50L))

  /** Skip-gram co-occurrence counts
    * ([[graft.ops.TextAnalysis.skipgramCounts]]): window-3 ordered
    * pairs over the document corpus — the word2vec training-pair
    * table, built map-side.
    */
  private def qSkipgram(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.skipgramCounts(
      graft.util.Parallelism.ensure(t(s, dir, "documents")),
      col("text"), window = 3, minCount = 20L)

  /** Quantized ANN search ([[graft.ops.Similarity.searchInt8]]): the
    * same 5 query vectors as q_ann_topk, scored by exact BIGINT code
    * dot products — the one ANN path whose oracle is hash-exact
    * rather than a recall report.
    */
  private def qAnnInt8(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.searchInt8(
      t(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L),
      "vec_id", "embedding", EmbDim, k = 5)

  /** Binary-signature ANN ([[graft.ops.Similarity.searchHamming]]):
    * the same 5 query ids as q_ann_topk, ranked by exact popcount
    * Hamming distance between sign signatures — the 1-bit (32×
    * memory) quantization tier below q_ann_int8, hash-exact because
    * distances are small integers with a total tie-broken order.
    */
  private def qHammingTopk(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.searchHamming(
      t(s, dir, "embeddings"), Seq(0L, 1L, 2L, 3L, 4L),
      "vec_id", "embedding", EmbDim, k = 5)

  /** Hamming near-duplicate pairs via multi-index hashing
    * ([[graft.ops.Similarity.hammingNearDupPairs]]): 8-bit bands over
    * the 64-bit sign signature, exact popcount rescore at radius 18.
    * The oracle mirrors the BANDED candidate set (the q_minhash_lsh
    * contract — full recall is guaranteed only below the band count).
    */
  private def qHammingNeardups(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.hammingNearDupPairs(
      t(s, dir, "embeddings"), "vec_id", "embedding", EmbDim,
      maxDist = 18, bandBits = 8)

  /** Retrieval evaluation ([[graft.ops.Similarity.retrievalEval]]):
    * the binary-signature ranker (q_hamming_topk) graded against the
    * int8 ranking (q_ann_int8) as ground truth — per-query hits, MRR
    * and NDCG in exact integer micro-units (positional gains are ONE
    * set of Scala-computed constants injected into both engines).
    */
  private def qNdcg(s: SparkSession, dir: String): DataFrame = {
    val ids = Seq(0L, 1L, 2L, 3L, 4L)
    val emb = t(s, dir, "embeddings")
    graft.ops.Similarity.retrievalEval(
      graft.ops.Similarity.searchHamming(emb, ids, "vec_id", "embedding", EmbDim, k = 5),
      graft.ops.Similarity.searchInt8(emb, ids, "vec_id", "embedding", EmbDim, k = 5),
      k = 5)
  }

  /** Count-min sketch ([[graft.ops.Sketches]]): a 4×64 sketch over
    * the corpus token stream, point-queried for every token with
    * true count ≥ 50 — `est_n ≥ true_n` by the CMS overestimate
    * guarantee, and the deliberately narrow width makes `err` > 0 on
    * real collisions so the row exercises the estimator, not just the
    * identity.
    */
  private def qCms(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val cells = graft.ops.Sketches.cmsCells(toks, col("tok"), depth = 4, width = 64)
    val probes = toks.groupBy("tok").agg(count(lit(1)).as("true_n"))
      .filter(col("true_n") >= 50)
    graft.ops.Sketches.cmsEstimates(cells, probes, "tok", depth = 4, width = 64)
      .withColumn("err", col("est_n") - col("true_n"))
  }

  /** Length-sorted batch packing ([[graft.ops.Windows.sortedBatches]]):
    * the padded-loader layout at batch size 16, run BOTH ways —
    * length-sorted and arrival-order — so the row carries the exact
    * per-batch padding waste of each strategy (the sort's whole point
    * is the drop in `pad_waste`).
    */
  private def qLengthBatches(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      size(filter(split(col("text"), " "), x => x =!= "")).cast("long").as("n_tok"))
    val sorted = graft.ops.Windows.sortedBatches(
        docs, col("n_tok"), col("doc_id"), batchSize = 16)
      .withColumn("strategy", lit("length_sorted"))
    val arrival = graft.ops.Windows.sortedBatches(
        docs, col("n_tok"), col("doc_id"), batchSize = 16, sortByLength = false)
      .withColumn("strategy", lit("arrival"))
    sorted.unionByName(arrival)
      .select("strategy", "batch_id", "n_seqs", "max_len", "sum_tokens", "pad_waste")
  }

  /** Per-group z-score standardization
    * ([[graft.ops.Profiling.groupZscore]]): customer balances in tens
    * of dollars (pre-scaled into the 2⁵³ exact-double envelope),
    * standardized within market segment — engine-exact ppm values.
    */
  private def qZscore(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.groupZscore(
      t(s, dir, "customer"), Seq("c_mktsegment"), "c_custkey",
      floor(col("c_acctbal") / 10))

  /** Bigram LM with stupid backoff
    * ([[graft.ops.TextAnalysis.lmBigramScore]]): model trained on the
    * q_lm_score reference slice (doc_id % 10 < 8), ALL documents
    * scored — held-out docs exercise both the unseen-bigram backoff
    * and the OOV smoothing mass; n_bigram_hits separates the two.
    */
  private def qLmBigram(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.TextAnalysis.lmBigramScore(
      docs, "doc_id", col("text"),
      docs.filter(col("doc_id") % 10 < 8), col("text"))
  }

  /** Distribution drift ([[graft.ops.TextAnalysis.distributionDrift]]):
    * Jensen–Shannon divergence between the train slice's and the
    * held-out slice's token distributions — the mix-skew monitor, as
    * one exactly-reproducible row.
    */
  private def qJsDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.TextAnalysis.distributionDrift(
      docs.filter(col("doc_id") % 10 < 8), col("text"),
      docs.filter(col("doc_id") % 10 >= 8), col("text"))
  }

  /** Merge rounds for the BPE oracle pair — fixed so the Spark loop
    * and the DuckDB chained-CTE mirror unroll identically.
    */
  private val BpeMergeRounds = 12

  /** Word-frequency table for BPE training: whitespace words of the
    * document corpus with exact counts (the ONE corpus-wide scan;
    * everything after is vocabulary-sized).
    */
  private def bpeWords(s: SparkSession, dir: String): DataFrame =
    // ensure(): whole-corpus tokenization is the compute-heavy first
    // stage of every BPE row; a single-file layout must not serialize it
    graft.util.Parallelism.ensure(t(s, dir, "documents"))
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Distributed BPE subword training ([[graft.ops.Bpe.bpeTrain]]):
    * 12 most-frequent-pair merge rounds over the corpus word-frequency
    * table, exact integer pair counts, (count desc, pair asc)
    * tie-break. The output IS the model — the ordered merge table —
    * hash-checked against a DuckDB chained-CTE mirror that replays
    * the identical single-replace rewrite round for round.
    */
  private def qBpe(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.bpeTrain(bpeWords(s, dir), merges = BpeMergeRounds)._1

  /** Tokenizer fertility histogram ([[graft.ops.Bpe.fertility]]):
    * pieces-per-word distribution of the trained segmentation, with
    * type, occurrence and character mass per bin — the tokenizer
    * quality report as exact integers.
    */
  private def qBpeStats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bpe.fertility(
      graft.ops.Bpe.bpeTrain(bpeWords(s, dir), merges = BpeMergeRounds)._2)

  /** BPE encoding ([[graft.ops.Bpe.bpeEncode]]): every document
    * re-tokenized through the trained segmentation (vocabulary-sized
    * hash join, the encodeTokens contract) and mapped to dense piece
    * ids ([[graft.ops.Windows.denseIdsBy]] over the piece vocabulary)
    * — row-level `(doc_id, word_pos, piece_pos, piece, piece_id)` so
    * the hash covers every emitted subword in order.
    */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val (_, seg) = graft.ops.Bpe.bpeTrain(bpeWords(s, dir), merges = BpeMergeRounds)
    val vocab = graft.ops.Windows.denseIdsBy(
      seg.select(explode(col("pieces")).as("piece")).distinct(),
      Seq(col("piece").asc), "piece_id")
    graft.ops.Bpe.bpeEncode(
        graft.util.Parallelism.ensure(t(s, dir, "documents")),
        "doc_id", col("text"), seg)
      .join(vocab, Seq("piece"))
      .select("doc_id", "word_pos", "piece_pos", "piece", "piece_id")
  }

  /** BPE pieces feeding the packing stage — the composed
    * text→subword→training-chunk path as ONE hash-checked row
    * ([[graft.ops.Bpe.bpeEncode]] → per-doc piece counts →
    * [[graft.ops.Windows.packChunks]] at a 2048-piece budget): chunk
    * boundaries computed from SUBWORD lengths, which is what a real
    * loader packs on (whitespace token counts over- or under-fill
    * chunks the moment the tokenizer is subword).
    */
  private def qPackBpe(s: SparkSession, dir: String): DataFrame = {
    val (_, seg) = graft.ops.Bpe.bpeTrain(bpeWords(s, dir), merges = BpeMergeRounds)
    val docs = t(s, dir, "documents")
    val counts = graft.ops.Bpe.bpeEncode(docs, "doc_id", col("text"), seg)
      .groupBy("doc_id").agg(count(lit(1)).as("n_pieces"))
    graft.ops.Windows.packChunks(
      docs.select("doc_id", "lang").join(counts, Seq("doc_id"))
        .select(col("lang"), col("doc_id"), col("n_pieces")),
      "lang", "doc_id", "n_pieces", budget = 2048L)
  }

  /** Unigram-LM tokenizer schedule (see [[graft.ops.Unigram]]): 4-char
    * max piece, 64-piece multi-char seed pruned to 24, EM×2 → prune →
    * EM×1, words capped at 12 chars (fixture max is 8 — nothing is
    * dropped; the cap bounds the oracle's per-position CTE unroll).
    */
  private val UnigramMaxPieceLen = 4
  private val UnigramSeedMultiChar = 64
  private val UnigramKeepMultiChar = 24
  private val UnigramEmBefore = 2
  private val UnigramEmAfter = 1
  private val UnigramMaxWordLen = 12

  /** [[bpeWords]] under the unigram training policy filter (the same
    * `len(word) <= maxWordLen` [[graft.ops.Unigram.unigramTrain]]
    * applies internally — exposed so the encode path segments exactly
    * the trained word set).
    */
  private def unigramWords(s: SparkSession, dir: String): DataFrame =
    bpeWords(s, dir).filter(length(col("word")) <= UnigramMaxWordLen)

  /** Unigram-LM tokenizer training trace
    * ([[graft.ops.Unigram.unigramTrain]]): every model state — seed,
    * two Viterbi-EM rounds, the prune, the final EM round — as one
    * `(round, piece, cnt, logp_unat)` frame, hash-checked against a
    * DuckDB replay that unrolls the identical Viterbi DP one chained
    * CTE per character position (the [[graft.ops.Bpe.bpeSql]]
    * discipline for the OTHER production tokenizer family, Kudo 2018).
    */
  private def qUnigramLm(s: SparkSession, dir: String): DataFrame =
    graft.ops.Unigram.unigramTrain(bpeWords(s, dir),
      maxPieceLen = UnigramMaxPieceLen, seedMultiChar = UnigramSeedMultiChar,
      keepMultiChar = UnigramKeepMultiChar, emBeforePrune = UnigramEmBefore,
      emAfterPrune = UnigramEmAfter, maxWordLen = UnigramMaxWordLen)._1

  /** Unigram-LM encoding: Viterbi-segment the trained word set under
    * the FINAL vocabulary, then the [[graft.ops.Bpe.bpeEncode]]
    * vocabulary-sized hash join + piece explode — `(doc_id, word_pos,
    * piece_pos, piece)`, row-level so the hash covers every emitted
    * subword in order.
    */
  private def qUnigramEncode(s: SparkSession, dir: String): DataFrame = {
    // one corpus scan for the word table: train, the Viterbi words
    // side, and the edge explode all read this vocabulary-sized
    // checkpoint instead of re-aggregating the corpus each
    val words = unigramWords(s, dir).localCheckpoint(true)
    val (_, finalVocab) = graft.ops.Unigram.unigramTrain(words,
      maxPieceLen = UnigramMaxPieceLen, seedMultiChar = UnigramSeedMultiChar,
      keepMultiChar = UnigramKeepMultiChar, emBeforePrune = UnigramEmBefore,
      emAfterPrune = UnigramEmAfter, maxWordLen = UnigramMaxWordLen)
    val seg = graft.ops.Unigram
      .viterbiSegments(words, finalVocab, UnigramMaxPieceLen)
      .select(col("word"), col("pieces"))
    graft.ops.Bpe.bpeEncode(
      graft.util.Parallelism.ensure(t(s, dir, "documents")),
      "doc_id", col("text"), seg)
  }

  /** Unigram-tokenizer fertility histogram — [[graft.ops.Bpe.fertility]]
    * over the final-vocabulary Viterbi segmentation (the operator is
    * segmentation-agnostic: pieces-per-word distribution with type,
    * occurrence and character mass per bin), completing the unigram
    * family's train/encode/stats symmetry with BPE.
    */
  private def qUnigramStats(s: SparkSession, dir: String): DataFrame = {
    val words = unigramWords(s, dir).localCheckpoint(true) // see qUnigramEncode
    val (_, finalVocab) = graft.ops.Unigram.unigramTrain(words,
      maxPieceLen = UnigramMaxPieceLen, seedMultiChar = UnigramSeedMultiChar,
      keepMultiChar = UnigramKeepMultiChar, emBeforePrune = UnigramEmBefore,
      emAfterPrune = UnigramEmAfter, maxWordLen = UnigramMaxWordLen)
    graft.ops.Bpe.fertility(graft.ops.Unigram
      .viterbiSegments(words, finalVocab, UnigramMaxPieceLen)
      .select(col("word"), col("freq"), col("pieces")))
  }

  /** Deterministic per-epoch reshuffle
    * ([[graft.ops.Sampling.epochShuffle]]): 3 training epochs of the
    * document corpus, each a fresh md5-keyed global permutation —
    * every (epoch, position) hash-checked against the oracle's
    * identical md5 ordering.
    */
  private def qEpochShuffle(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.epochShuffle(
      t(s, dir, "documents").select("doc_id"), col("doc_id"), epochs = 3)

  /** CorpusDemo's split QA gates as a standing oracle row (round-6
    * verdict task 7): the train/valid token-distribution JSD and the
    * split×lang chi-square that gate the composed pipeline, computed
    * over the REAL [[graft.ops.Sampling.assignSplit]] assignment
    * (stable md5 permille buckets) rather than a demo-only path — a
    * regression anywhere in split hashing, tokenization, drift, or
    * chi-square now breaks a hash, not just a demo `require`. Both
    * gate statistics are 1-row frames; the cross join is 1×1.
    */
  private def qCorpusSplitQa(s: SparkSession, dir: String): DataFrame = {
    val split = graft.ops.Sampling.assignSplit(t(s, dir, "documents"), col("doc_id"),
      Seq("train" -> 900, "valid" -> 50, "test" -> 50))
    val jsd = graft.ops.TextAnalysis.distributionDrift(
      split.filter(col("split") === "train"), col("text"),
      split.filter(col("split") === "valid"), col("text"))
    val chi = graft.ops.Profiling.chiSquare(split, col("split"), col("lang"))
    jsd.crossJoin(chi)
  }

  /** File-ledger incremental ingest ([[graft.etl.Etl.readIncremental]]):
    * batch 1 lands and is committed to the ledger; batch 2 lands; the
    * incremental read must see EXACTLY batch 2 — proven through the
    * filesystem by aggregating what came back and matching the
    * oracle's direct batch-2 aggregation. Also exercises
    * commit-idempotence: the final read-after-commit returns the
    * empty projection, contributing the n=0-safe arm.
    */
  private def qIncrRead(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("incr")
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
    // fresh dir each run: delete any prior pass's files + ledger
    val hPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = hPath.getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(hPath, true)
    orders.filter(col("o_orderkey") % 4 < 2).write.mode("append").parquet(tmp)
    val (b1, names1) = graft.etl.Etl.readIncremental(s, tmp)
    graft.etl.Etl.commitProcessed(s, tmp, names1)
    orders.filter(col("o_orderkey") % 4 >= 2).write.mode("append").parquet(tmp)
    val (b2, names2) = graft.etl.Etl.readIncremental(s, tmp)
    graft.etl.Etl.commitProcessed(s, tmp, names2)
    val (b3, _) = graft.etl.Etl.readIncremental(s, tmp)
    b2.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(floor(col("o_totalprice")).cast("long")).as("sum_floor_price"))
      .withColumn("n_after_commit", lit(b3.count()))
  }

  /** Sharded incremental ingest
    * ([[graft.etl.Etl.readIncrementalPartitioned]]): a
    * hive-partitioned grow-only table with ONE ledger per partition —
    * the bounded-listing layout the flat guard prescribes. Batch 1
    * lands across all partitions and only the LOW-priority
    * partitions' ledgers are committed; batch 2 lands; the
    * incremental read must see batch 2 everywhere PLUS batch 1 in
    * the never-committed partitions — per-partition ledger isolation,
    * proven through the filesystem against the oracle's direct
    * predicate. The final full-commit re-read contributes the
    * n=0-safe arm.
    */
  private def qIncrPart(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("incrp")
    val orders = t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
    val hPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = hPath.getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(hPath, true)
    orders.filter(col("o_orderkey") % 4 < 2)
      .write.partitionBy("o_orderpriority").mode("append").parquet(tmp)
    val (_, names1) = graft.etl.Etl.readIncrementalPartitioned(s, tmp, "o_orderpriority")
    // commit only priorities 3-5: partitions 1-URGENT / 2-HIGH keep
    // their batch-1 files unprocessed
    graft.etl.Etl.commitProcessedPartitioned(s, tmp, "o_orderpriority",
      names1.filter { case (v, _) => !v.startsWith("1-") && !v.startsWith("2-") })
    orders.filter(col("o_orderkey") % 4 >= 2)
      .write.partitionBy("o_orderpriority").mode("append").parquet(tmp)
    val (b2, names2) = graft.etl.Etl.readIncrementalPartitioned(s, tmp, "o_orderpriority")
    graft.etl.Etl.commitProcessedPartitioned(s, tmp, "o_orderpriority", names2)
    val (b3, _) = graft.etl.Etl.readIncrementalPartitioned(s, tmp, "o_orderpriority")
    b2.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("sum_key"),
        sum(floor(col("o_totalprice")).cast("long")).as("sum_floor_price"))
      .withColumn("n_after_commit", lit(b3.count()))
  }

  /** HITS hubs/authorities ([[graft.ops.Graphs.hitsExact]]) over the
    * same customer→order bipartite graph as q_pagerank — customers
    * are pure hubs, orders pure authorities, the shape HITS was
    * designed for. Exact scaled-integer L1-normalized rounds hash
    * against the chained-CTE mirror bit-for-bit.
    */
  private def qHits(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graphs.hitsExact(
      t(s, dir, "orders").select(col("o_custkey").as("src"),
        (-col("o_orderkey")).as("dst")),
      rounds = 3,
      // unique by the orders PK — see qPageRank's dedupEdges note
      dedupEdges = false)

  /** Activity streaks ([[graft.ops.Windows.streaks]]): per user, runs
    * of consecutive active DAYS — best-ever streak + when it ended.
    * All-integer islands encoding, engine-exact.
    */
  private def qStreaks(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    graft.ops.Windows.streaks(
      raw.select(col("user_id"), tsMicros(raw, "ts").as("t_us")),
      Seq("user_id"), "t_us", 86400000000L)
  }

  /** Exact per-group correlation strength
    * ([[graft.ops.Profiling.groupCorr]]): r²·1e6 + sign between order
    * value (thousands — pre-scaled into the documented envelope) and
    * the order's line-item count, per priority class. The two are
    * strongly positively correlated by construction, so the row is
    * non-vacuous at every scale.
    */
  private def qCorr(s: SparkSession, dir: String): DataFrame = {
    val cnt = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("n_items"))
    graft.ops.Profiling.groupCorr(
      t(s, dir, "orders").join(cnt, Seq("o_orderkey"))
        .select(col("o_orderpriority"),
          floor(col("o_totalprice") / 1000).cast("long").as("x_k"),
          col("n_items")),
      Seq("o_orderpriority"), col("x_k"), col("n_items"))
  }

  /** Shared modulated daily revenue series for the time-series rows
    * (q_autocorr, q_seasonal): daily revenue in SCALE-FREE milli-mean
    * units (`dc·nd·1000 // tc` ≈ 1000·day/mean — the qCusum
    * discipline, so the series magnitude is ~1000·factor at EVERY sf
    * and the groupCorr 3e18 envelope can never fire), scaled by the
    * deterministic period-7 factor `1 + (t%7)%3·2` (values 1/3/5).
    */
  private def dailyRevSeries(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val minD = o.agg(min(col("o_orderdate")).as("__d0"))
    val daily = o.join(broadcast(minD))
      .select(datediff(col("o_orderdate"), col("__d0")).cast("long").as("t"),
        floor(col("o_totalprice") * 100).cast("long").as("__cents"))
      .groupBy("t").agg(sum(col("__cents")).as("__dc"))
    val tot = daily.agg(sum(col("__dc")).as("__tc"), count(lit(1)).as("__nd"))
    daily.join(broadcast(tot))
      .select(col("t"),
        (expr("(__dc * __nd * 1000) div __tc")
          * (lit(1L) + (col("t") % 7) % 3 * 2)).as("x"))
  }

  /** DuckDB mirror of [[dailyRevSeries]] as CTEs `d0, daily, dtot, ser`. */
  private val DailySeriesCtes: String =
    """d0 AS (SELECT min(o_orderdate) AS v FROM orders),
      |daily AS (
      |  SELECT CAST(datediff('day', d0.v, o_orderdate) AS BIGINT) AS t,
      |         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS dc
      |  FROM orders, d0 GROUP BY 1),
      |dtot AS (SELECT CAST(sum(dc) AS BIGINT) AS tc, count(*) AS nd FROM daily),
      |ser AS (SELECT t, ((dc * nd * 1000) // tc) * (1 + (t % 7) % 3 * 2) AS x
      |        FROM daily, dtot)""".stripMargin

  /** Lag-k autocorrelation ([[graft.ops.Profiling.autocorr]]) of
    * [[dailyRevSeries]] at lags 1–7 and 14 — the seasonality
    * detector; the planted weekly 1/3/5 cycle puts lag 7/14 far above
    * the rest (both engines compute the identical integer series, so
    * the r² ppm values are engine-exact via the groupCorr machinery).
    */
  private def qAutocorr(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.autocorr(dailyRevSeries(s, dir), col("t"), col("x"),
      lags = Seq(1, 2, 3, 4, 5, 6, 7, 14))

  /** Weekly seasonal decomposition
    * ([[graft.ops.Profiling.seasonalDecompose]]): the same modulated
    * series, centered 7-day trend removed by exact floor-div, phase
    * residual sums — the planted factor's 0/2/4 pattern is visible in
    * the per-phase signs.
    */
  private def qSeasonal(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.seasonalDecompose(dailyRevSeries(s, dir),
      col("t"), col("x"), p = 7)

  /** Image perceptual hashing ([[graft.ops.Multimodal.imageDhash]]):
    * per-doc synthetic 24-bit BMPs (REAL image bytes, written by the
    * engine) decoded through `javax.imageio` and difference-hashed on
    * a 9×8 integer block-mean grid. The oracle recomputes the hash
    * from the ANALYTIC pixel formula — equality proves the whole
    * encode → decode → luma → downsample → hash chain bit-faithful
    * (the synthAudioRecords contract, for images).
    */
  private def qImageDhash(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.imageDhash(
      graft.ops.Multimodal.synthImageRecords(t(s, dir, "documents"), "doc_id"))
      .toDF()
      .select(col("id").as("doc_id"), col("width"), col("height"),
        col("d0"), col("d1"))

  /** Near-duplicate image pairs: [[qImageDhash]]'s perceptual hashes
    * through the [[graft.ops.Similarity.hammingNearDupPairsSig]]
    * multi-index join at radius 7 — BELOW the 8-band pigeonhole
    * bound, so recall is exactly 100% and the row is the full
    * radius-7 pair set (same-base variants sit ≤ 5 bits apart,
    * cross-base images ≥ 20 — the md5 block texture enforces the
    * separation).
    */
  private def qImageNeardups(s: SparkSession, dir: String): DataFrame = {
    val sigs = graft.ops.Multimodal.imageDhash(
        graft.ops.Multimodal.synthImageRecords(t(s, dir, "documents"), "doc_id"))
      .toDF().select(col("id"), col("d0").as("sig0"), col("d1").as("sig1"))
    // 16-bit bands probed at radius 1 (MIH): same complete radius-7
    // pair set as 8-bit equality bands (both pigeonhole-exact), but
    // buckets are 256× sparser — the sf1 probe measured the 8-bit
    // form at time_x 50 for rows_x 10 because 256-key buckets
    // saturate at tens of thousands of images. The oracle generates
    // candidates via the 8-bit equality banding; equal outputs are
    // guaranteed by full recall on both sides and hash-verified.
    graft.ops.Similarity.hammingNearDupPairsSig(
      sigs, "id", words = 2, nBits = 64, maxDist = 7, bandBits = 16,
      bandRadius = 1)
  }

  /** Shared DuckDB CTE chain recomputing [[qImageDhash]] from the
    * analytic pixel formula (md5 block texture + gradient + sparse
    * variant flips → 4×4 block means → gradient-sign bits).
    */
  /** The analytic-dHash CTE chain over an arbitrary image-key source:
    * `idsSql` must yield a column `img_id`; the chain ends at `agg`
    * keyed by `id`. Frame key semantics are [[graft.ops.Multimodal
    * .synthBmp]]'s: base = `img_id div 10`, variant = `img_id mod
    * 10` — shared by the still-image fixture (img_id = doc_id) and
    * the video fixture (img_id = video·10 + frame).
    */
  private def imageDhashCtesFor(idsSql: String): String = {
    val bh = "CAST(('0x' || substr(md5(CAST((d.img_id // 10) AS VARCHAR) || ':' || " +
      "CAST((gx.x // 4) AS VARCHAR) || ':' || CAST((gy.y // 4) AS VARCHAR)), 1, 15)) AS BIGINT) % 256"
    s"""imgids AS ($idsSql),
       |px AS (
       |  SELECT d.img_id AS id, gx.x AS x, gy.y AS y,
       |    CASE WHEN (gx.x + gy.y * 36) % 97 = d.img_id % 10
       |         THEN ((gx.x * 7 + gy.y * 13 + $bh) % 256 + 128) % 256
       |         ELSE (gx.x * 7 + gy.y * 13 + $bh) % 256 END AS g
       |  FROM imgids d, generate_series(0, 35) gx(x), generate_series(0, 31) gy(y)),
       |bm AS (
       |  SELECT id, y // 4 AS r, x // 4 AS c, sum(g) // 16 AS m
       |  FROM px GROUP BY 1, 2, 3),
       |bits AS (
       |  SELECT a.id, a.r * 8 + a.c AS bit
       |  FROM bm a JOIN bm b ON a.id = b.id AND a.r = b.r AND b.c = a.c + 1
       |  WHERE a.m > b.m),
       |agg AS (
       |  SELECT id,
       |    coalesce(bit_or(CASE WHEN bit < 32 THEN (1::BIGINT << bit::INT) END), 0) AS d0,
       |    coalesce(bit_or(CASE WHEN bit >= 32 THEN (1::BIGINT << (bit - 32)::INT) END), 0) AS d1
       |  FROM bits GROUP BY 1)""".stripMargin
  }

  /** The still-image instantiation (img_id = doc_id), used by
    * q_image_dhash / q_image_neardups. */
  private val ImageDhashCtes: String =
    imageDhashCtesFor("SELECT doc_id AS img_id FROM documents")

  /** Bloom file-skipping index ([[graft.ops.Sketches.bloomIndex]]):
    * orders sharded into 8 deterministic "files", one 1024-bit/3-hash
    * Bloom filter per file over `o_custkey`, probed for 40 customer
    * keys — every (probe, file) skip decision plus ground truth, so
    * the row certifies both the no-false-negative guarantee and the
    * real false-positive behavior of the index.
    */
  private def qBloomIndex(s: SparkSession, dir: String): DataFrame = {
    // ensure(): three md5 probes per row on a possibly-single-file
    // scan (v8 sf1 fixture: 224.4 s vs 2.0 s on 32 files).
    val o = graft.util.Parallelism.ensure(t(s, dir, "orders"))
      .select((col("o_orderkey") % 8).as("file"), col("o_custkey"))
    val idx = graft.ops.Sketches.bloomIndex(o, col("file"), col("o_custkey"),
      mBits = 1024, k = 3)
    val probes = t(s, dir, "customer").filter(col("c_custkey") <= 40)
      .select(col("c_custkey").as("probe_key"))
    val actual = o.select(col("o_custkey").as("probe_key"), col("file"))
      .distinct().withColumn("actual", lit(true))
    graft.ops.Sketches.bloomMaybe(idx, probes, "probe_key", mBits = 1024, k = 3)
      .join(actual, Seq("probe_key", "file"), "left")
      .select(col("probe_key"), col("file"), col("maybe"),
        coalesce(col("actual"), lit(false)).as("actual"))
  }

  /** First-occurrence novelty
    * ([[graft.ops.TextAnalysis.noveltyScores]]): per-document fraction
    * of distinct word trigrams owned (first seen) by that document —
    * the add-something curation signal, exact ppm.
    */
  private def qNovelty(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.noveltyScores(
      t(s, dir, "documents"), "doc_id", col("text"), n = 3)

  /** K-anonymity profile ([[graft.ops.Profiling.kAnonymity]]):
    * equivalence-class size histogram over the quasi-identifiers
    * (nation, segment, acctbal-hundreds), risky below k=5.
    */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.kAnonymity(
      t(s, dir, "customer"),
      Seq(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 100).cast("long")),
      k = 5)

  /** Referential-integrity profile ([[graft.ops.Profiling.fkIntegrity]]):
    * all four star-schema FK relations as exact summary rows — orphan
    * rows/keys (none in TPC-H, truthfully reported), null FKs, and
    * the unreferenced-parent counts that ARE non-trivial here
    * (a third of customers have no orders).
    */
  private def qFkIntegrity(s: SparkSession, dir: String): DataFrame = {
    val P = graft.ops.Profiling
    val (o, c, l) = (t(s, dir, "orders"), t(s, dir, "customer"), t(s, dir, "lineitem"))
    P.fkIntegrity(o, col("o_custkey"), c, col("c_custkey"), "orders->customer")
      .unionByName(P.fkIntegrity(l, col("l_orderkey"), o, col("o_orderkey"), "lineitem->orders"))
      .unionByName(P.fkIntegrity(l, col("l_partkey"), t(s, dir, "part"), col("p_partkey"), "lineitem->part"))
      .unionByName(P.fkIntegrity(l, col("l_suppkey"), t(s, dir, "supplier"), col("s_suppkey"), "lineitem->supplier"))
  }

  /** Exact join-size forecast
    * ([[graft.ops.Profiling.joinSizeEstimate]]): predicted inner-join
    * cardinality and dominant-key share for two star joins, from
    * per-key counts alone — the pre-flight that sizes a shuffle
    * before paying for it.
    */
  private def qJoinEstimate(s: SparkSession, dir: String): DataFrame = {
    val P = graft.ops.Profiling
    P.joinSizeEstimate(t(s, dir, "orders"), col("o_custkey"),
        t(s, dir, "customer"), col("c_custkey"), "orders*customer")
      .unionByName(P.joinSizeEstimate(t(s, dir, "lineitem"), col("l_partkey"),
        t(s, dir, "part"), col("p_partkey"), "lineitem*part"))
  }

  /** Equi-depth histogram
    * ([[graft.ops.Profiling.equiDepthHistogram]]): 8 equal-count
    * buckets of customer balances per market segment, boundaries as
    * exact order statistics.
    */
  private def qEquidepth(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.equiDepthHistogram(
      t(s, dir, "customer").select(col("c_mktsegment"), col("c_custkey"),
        floor(col("c_acctbal") * 100).cast("long").as("bal_c")),
      Seq("c_mktsegment"), "c_custkey", col("bal_c"), buckets = 8)

  /** Benford first-digit profile
    * ([[graft.ops.Profiling.benfordProfile]]): order totals in cents
    * vs the Benford expectation — TPC-H's uniform price generator
    * deviates hard, and the row reports exactly how much, digit by
    * digit (expected shares are ONE set of Scala constants in both
    * engines).
    */
  private def qBenford(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.benfordProfile(
      t(s, dir, "orders"), floor(col("o_totalprice") * 100).cast("long"))

  /** Near-duplicate image CLUSTERS: [[qImageNeardups]] pairs through
    * [[graft.ops.Clusters.resolveDuplicates]] connected components.
    * The oracle is the planted GROUND TRUTH (`cluster = (id div 10)·10`)
    * rather than an algorithm mirror — CC is graded against what the
    * fixture actually contains, at every scale.
    */
  private def qImageClusters(s: SparkSession, dir: String): DataFrame =
    graft.ops.Clusters.resolveDuplicates(
      t(s, dir, "documents").select(col("doc_id")), "doc_id",
      qImageNeardups(s, dir), "id_a", "id_b")

  /** CUSUM drift detection ([[graft.ops.Profiling.cusum]]): daily
    * revenue SHARES in milli-mean units (≈1000/day at every scale —
    * the scale-free normalization), a planted +700 level shift over
    * days [1200, 1800), slack 1200, threshold 20000. The prefix
    * closed form distributes the "sequential" recurrence; the ramp
    * over the planted window dwarfs the threshold at every sf.
    */
  private def qCusum(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val minD = o.agg(min(col("o_orderdate")).as("__d0"))
    val daily = o.join(broadcast(minD))
      .select(datediff(col("o_orderdate"), col("__d0")).cast("long").as("t"),
        floor(col("o_totalprice") * 100).cast("long").as("__cents"))
      .groupBy("t").agg(sum("__cents").as("__dc"))
    val tot = daily.agg(sum("__dc").as("__tc"), count(lit(1)).as("__nd"))
    val series = daily.join(broadcast(tot))
      .select(col("t"),
        (expr("(__dc * __nd * 1000L) div __tc") +
          when(col("t") >= 1200 && col("t") < 1800, 700L).otherwise(0L)).as("x"))
    graft.ops.Profiling.cusum(series, col("t"), col("x"),
      slack = 1200L, threshold = 20000L)
  }

  /** Vocabulary coverage curve
    * ([[graft.ops.TextAnalysis.vocabCoverage]]): token-stream share
    * covered by the top-V types at power-of-8 cutoffs — the
    * tokenizer-sizing curve, exact ppm.
    */
  private def qVocabCoverage(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.vocabCoverage(
      t(s, dir, "documents"), col("text"),
      cutoffs = Seq(1, 8, 64, 512, 4096, 32768))

  /** kNN label-agreement QA (mislabeled-example detection): the int8
    * top-5 neighbors of the first 50 vectors, scored for label
    * agreement — a vector whose neighborhood votes against its own
    * label is a labeling suspect (Confident-Learning-style signal,
    * here as exact integer agreement counts over the hash-exact
    * quantized kNN).
    */
  private def qLabelAgreement(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val lbl = emb.select(col("vec_id"), col("label"))
    graft.ops.Similarity.searchInt8(emb, (0L until 50L).toSeq,
        "vec_id", "embedding", EmbDim, k = 5)
      .join(lbl.select(col("vec_id").as("query_id"), col("label")), Seq("query_id"))
      .join(lbl.select(col("vec_id").as("neighbor_id"), col("label").as("__nl")),
        Seq("neighbor_id"))
      .groupBy("query_id", "label")
      .agg(count(lit(1)).as("n_neighbors"),
        sum(when(col("__nl") === col("label"), 1L).otherwise(0L)).as("n_agree"))
      .withColumn("agree_ppm", expr("(n_agree * 1000000L) div n_neighbors"))
      .withColumn("suspect", col("n_agree") * 2 < col("n_neighbors"))
  }

  /** L-diversity profile ([[graft.ops.Profiling.lDiversity]]):
    * k-anonymity's companion — per quasi-identifier class, how many
    * DISTINCT sensitive values; the (class_size, diversity) histogram
    * with the at-risk flag. Same QI as [[qKAnonymity]], sensitive =
    * the balance-sign band.
    */
  private def qLDiversity(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.lDiversity(
      t(s, dir, "customer"),
      Seq(col("c_nationkey"), col("c_mktsegment")),
      floor(col("c_acctbal") / 1000).cast("long"),
      l = 3)

  /** Calibration bins ([[graft.ops.Profiling.calibrationBins]]) over
    * a PERFECTLY-CALIBRATED-by-construction model: confidence = one
    * md5 channel (uniform ppm), label = an INDEPENDENT md5 coin
    * under the confidence — so each bin's observed rate tracks its
    * mean predicted score up to real binomial noise, and `gap_ppm`
    * reports exactly that noise. (A first cut graded receipt-date
    * age against the return flag, but the synthetic generator does
    * not date-correlate returnflag — every bin read ~66%, a flat
    * uninformative curve.) All md5 hex-prefix arithmetic, identical
    * in both engines; bins hash-exact.
    */
  private def qCalibration(s: SparkSession, dir: String): DataFrame = {
    def chan(tag: String) =
      conv(substring(md5(concat(lit(tag), col("o_orderkey").cast("string"))),
        1, 15), 16, 10).cast("long") % 1000000L
    // ensure(): two md5 channels per row on a possibly-single-file
    // scan (v8 sf1 fixture: 30.3 s vs 1.0 s on 32 files).
    val scored = graft.util.Parallelism.ensure(t(s, dir, "orders"))
      .select(chan("cal:").as("score"), chan("coin:").as("__coin"))
      .select(col("score"), (col("__coin") < col("score")).as("label"))
    graft.ops.Profiling.calibrationBins(scored, col("score"), col("label"),
      bins = 10)
  }

  /** Cohen's kappa ([[graft.ops.Profiling.cohenKappa]]): agreement
    * between two rule-based document labelers — a length bucketer
    * and a distinct-token bucketer (correlated but not identical →
    * kappa lands strictly between 0 and 1e6, chance-corrected).
    */
  private def qKappa(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(filter(split(col("text"), " "), x => x =!= "").as("__ts"))
      .select(size(col("__ts")).as("__n"),
        size(array_distinct(col("__ts"))).as("__d"))
    graft.ops.Profiling.cohenKappa(d,
      when(col("__n") < 30, "short").when(col("__n") < 100, "mid").otherwise("long"),
      when(col("__d") < 25, "short").when(col("__d") < 60, "mid").otherwise("long"))
  }

  /** Content-defined chunking ([[graft.ops.TextAnalysis.cdcChunks]]):
    * every document cut at rolling-hash boundaries (w=4, divisor 32 →
    * ~32-token chunks) — the shift-robust dedup substrate; one row
    * per chunk with its token count and content hash.
    */
  private def qCdcChunks(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.cdcChunks(
      graft.util.Parallelism.ensure(t(s, dir, "documents")),
      "doc_id", col("text"), window = 4, divisor = 32)

  /** Audio tone detection: REAL WAV tones written by the engine
    * ([[graft.ops.Multimodal.synthToneRecords]] — bin `1 + id mod 8`
    * of the 64-point grid), decoded through the RIFF codec to
    * relational samples, then an EXACT-INTEGER 8-bin DFT: C/S sums
    * against the ONE Scala-computed `CosTable64` both engines share
    * (sin = the same table shifted 48), `power = C² + S²` in BIGINT
    * (|C| ≤ 128·1024² ≈ 1.3e8 → C² ≤ 1.8e16). The oracle rebuilds
    * every sample analytically, so row equality certifies the whole
    * encode → WAV → decode → DFT chain; `dominant` must land on the
    * planted bin (orthogonality survives the integer rounding).
    */
  private def qAudioTone(s: SparkSession, dir: String): DataFrame = {
    val M = graft.ops.Multimodal
    val tab = typedLit(M.CosTable64)
    val recs = M.synthToneRecords(
      graft.util.Parallelism.ensure(t(s, dir, "documents"))
        .filter(col("doc_id") % 11 === 0), "doc_id")
    val smp = M.decodeAudioSamples(recs).filter(col("pos") >= 0)
    smp.select(col("id").as("doc_id"), col("pos"), col("sample"),
        explode(sequence(lit(1L), lit(8L))).as("bin"))
      .groupBy("doc_id", "bin")
      .agg(
        sum(col("sample") *
          element_at(tab, ((col("bin") * col("pos")) % 64 + 1).cast("int")))
          .as("c_sum"),
        sum(col("sample") *
          element_at(tab, ((col("bin") * col("pos") + 48) % 64 + 1).cast("int")))
          .as("s_sum"))
      .withColumn("power",
        col("c_sum") * col("c_sum") + col("s_sum") * col("s_sum"))
      .withColumn("dominant",
        col("power") === max("power").over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
  }

  /** Shifted-content near-dups
    * ([[graft.ops.TextAnalysis.cdcNearDupPairs]]): documents sharing
    * ≥2 content-defined chunks (w=4, divisor 16, hot-chunk cap 8) —
    * the shift-invariant containment signal offset chunking can't
    * give; ~21 pairs at sf0.001, chunk-keyed join only.
    */
  private def qCdcNeardups(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.cdcNearDupPairs(
      t(s, dir, "documents"), "doc_id", col("text"),
      window = 4, divisor = 16, minShared = 2, maxChunkFreq = 8)

  /** Sampled video-frame perceptual hashes
    * ([[graft.ops.Multimodal.synthVideoRecords]] /
    * [[graft.ops.Multimodal.videoFrameHashes]]): REAL GVID containers
    * of BMP frames written by the engine (frame key = video·10 + f,
    * so frames share the video's texture base — consecutive frames
    * are perceptual near-dups, like real video), every 2nd frame
    * decoded and dHashed. The oracle recomputes each sampled frame's
    * hash from the analytic pixel formula — equality certifies
    * container encode → frame extract → BMP decode → dHash.
    */
  private def qVideoFrames(s: SparkSession, dir: String): DataFrame = {
    val M = graft.ops.Multimodal
    val recs = M.synthVideoRecords(
      t(s, dir, "documents").filter(col("doc_id") % 13 === 0), "doc_id")
    M.videoFrameHashes(recs, stride = 2)
      .select(col("id").as("doc_id"), col("frame_idx"),
        col("width"), col("height"), col("d0"), col("d1"))
  }

  /** Community quality ([[graft.ops.Graphs.modularity]]): Newman
    * modularity of the [[qLabelProp]] partition on the same orders
    * graph — one exact-rational summary row; the oracle replays the
    * LPA CTE chain then the same (2m·W − Σd²)/(2m)² arithmetic in
    * HUGEINT.
    */
  private def qModularity(s: SparkSession, dir: String): DataFrame = {
    val edges = t(s, dir, "orders").select(
      col("o_custkey").as("src"), (-col("o_orderkey")).as("dst"))
    // Symmetrize + dedup ONCE and share the materialized set: LPA and
    // modularity each built the identical frame internally (two
    // union+distinct shuffles of the same graph per run; symmetrizing
    // a symmetric set is a no-op, so this is plan-only — guide §2.4).
    val sym = edges
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    graft.ops.Graphs.modularity(sym,
      graft.ops.Graphs.labelPropagation(sym, rounds = 4, assumeSymDeduped = true),
      assumeSymDeduped = true)
  }

  /** Winsorized group statistics
    * ([[graft.ops.Profiling.winsorizedStats]]): customer balances in
    * cents clamped at the exact 5th/95th order statistics per market
    * segment — tail counts and the winsorized sum as BIGINTs.
    */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.winsorizedStats(
      t(s, dir, "customer").select(col("c_mktsegment"), col("c_custkey"),
        floor(col("c_acctbal") * 100).cast("long").as("bal_c")),
      Seq("c_mktsegment"), "c_custkey", col("bal_c"), loPct = 5, hiPct = 95)

  /** Exact robust spread ([[graft.ops.Profiling.groupMad]]): median
    * and median-absolute-deviation of order cents per priority —
    * rank-selected actual data values, reproducible anywhere.
    */
  private def qMad(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.groupMad(
      t(s, dir, "orders").select(col("o_orderpriority"),
        floor(col("o_totalprice") * 100).cast("long").as("cents")),
      Seq("o_orderpriority"), col("cents"))

  /** Date-function parity: ISO weekday, quarter, month, epoch-day
    * difference from a fixed anchor, and last-day-of-month derived
    * from o_orderdate — spelled so both engines compute the identical
    * integers (Spark's dayofweek is Sun=1; ISO via (dow+5)%7+1).
    */
  private def qDateFunctions(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"),
        month(col("o_orderdate")).as("m"),
        (((dayofweek(col("o_orderdate")) + 5) % 7) + 1).as("iso_dow"),
        datediff(col("o_orderdate"), lit("1992-01-01").cast("date")).as("days_since"),
        last_day(col("o_orderdate")).as("month_end"))
      .agg(count(lit(1)).as("n"))

  /** Period-over-period change: monthly order revenue per market
    * segment with the previous month's value and the delta in exact
    * parts-per-million (`(cur−prev)·1e6 div prev` — decimal-carried,
    * truncation identical on both engines). One segment-keyed window
    * over the monthly aggregate — the time series is months × segments,
    * never raw orders.
    */
  private def qPop(s: SparkSession, dir: String): DataFrame = {
    val monthly = t(s, dir, "orders")
      .join(t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment")), Seq("o_custkey"))
      .groupBy(col("c_mktsegment"), date_trunc("month", col("o_orderdate"))
        .cast("date").as("month"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_mktsegment").orderBy("month")
    monthly.withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
      .withColumn("delta_ppm",
        when(col("prev_cents").isNotNull && col("prev_cents") =!= 0L,
          expr("((rev_cents - prev_cents) * 1000000L) div prev_cents"))
          .otherwise(lit(null).cast("long")))
  }

  /** Flagship multi-join analytics (TPC-H Q3 shape): building-segment
    * customers ⋈ orders before a date ⋈ lineitem shipped after it,
    * top revenue orders. Revenue carried as the exact BIGINT product
    * cents×(1e6−disc_ppm) — ≤ 1e13 per line, ≤ ~1e14 per order, well
    * inside BIGINT; a float sum would be order-dependent. The plan the
    * optimizer should pick:
    * customer filter broadcast into orders, date filters pushed to
    * both scans, partial aggregation before the exchange.
    */
  private def qTpchQ3(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("o_custkey"))
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1995-03-15"))
      .join(cust, Seq("o_custkey"))
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1995-03-15"))
      .select(col("l_orderkey"),
        (floor(col("l_extendedprice") * 100).cast("long") *
          (lit(1000000L) - floor(col("l_discount") * 1000000).cast("long")))
          .as("__rev"))
      .join(ord, Seq("l_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum("__rev").as("revenue_micro_cents"))
      .orderBy(col("revenue_micro_cents").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** Rolling 7-day distinct active users
    * ([[graft.ops.Windows.rollingDistinct]]): exact WAU per window-end
    * day — the explode-by-window-length encoding, both engines
    * identical in integral day arithmetic.
    */
  private def qWau(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    graft.ops.Windows.rollingDistinct(
      raw.select(col("user_id"), tsMicros(raw, "ts").as("t_us")),
      "user_id", "t_us", period = 86400000000L, windowPeriods = 7)
  }

  /** Hopping (sliding) event-time windows: 1-hour windows every 15
    * minutes via the built-in `window(slideDuration)` — each event
    * lands in exactly w/h = 4 windows; the oracle generates the same
    * four aligned starts arithmetically. Complements q_event_window's
    * tumbling form.
    */
  private def qHoppingWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.streaming.Streams.withEventTime(t(s, dir, "events"))
    ev.groupBy(window(col("event_time"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))
  }

  /** Item co-occurrence ([[graft.ops.Graphs.bipartiteProject]]): parts
    * sharing ≥ 2 orders, hub baskets (> 50 distinct parts) dropped by
    * the cap — the market-basket projection that derives a link graph
    * from membership data. The oracle mirrors the cap explicitly.
    */
  private def qCopurchase(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graphs.bipartiteProject(
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      maxDegree = 50, minShared = 2L)

  /** File-layout quality report ([[graft.etl.Etl.fileStats]]): write a
    * range-sorted layout, read the per-file key envelopes back, and
    * reduce to one contract row — total rows + global key span match
    * the source exactly, and the file envelopes are pairwise DISJOINT
    * (`files_disjoint` = 1, computed from the real files; an
    * overlapping layout emits 0 and fails the row). The tiny window
    * runs over file-count rows (≤ 16), not data.
    */
  private def qFileStats(s: SparkSession, dir: String): DataFrame = {
    val tmp = scratchDir("fstats")
    graft.etl.Etl.writeRangeSorted(
      t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
      tmp, "l_orderkey", nFiles = 16)
    val st = graft.etl.Etl.fileStats(s, tmp, "l_orderkey")
    val w = graft.ops.Windows.pinnedOrderBy(col("min_key"))
    st.select(col("n_rows"), col("min_key"), col("max_key"),
        lag(col("max_key"), 1).over(w).as("__prev_max"))
      .select(col("n_rows"), col("min_key"), col("max_key"),
        when(col("__prev_max").isNull || col("__prev_max") < col("min_key"), 1)
          .otherwise(0).as("__ok"))
      .agg(sum("n_rows").as("n_rows"),
        min("min_key").as("min_key"), max("max_key").as("max_key"),
        min("__ok").as("files_disjoint"),
        when(count(lit(1)) <= 16, 1).otherwise(0).as("files_le_requested"))
  }

  /** Token-id encoding ([[graft.ops.TextAnalysis.encodeTokens]]): the
    * corpus encoded through its own [[qVocab]] vocabulary (dense ids
    * by descending frequency, min count 5) — OOV takes id 0. The row
    * carries an order-sensitive digest of each id sequence, so a
    * single transposition anywhere in any document fails the hash.
    */
  private def qEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 5)
    val vocab = graft.ops.Windows.denseIdsBy(counts,
      Seq(col("cnt").desc, col("tok").asc), "token_id")
    graft.ops.TextAnalysis
      .encodeTokens(docs, "doc_id", col("text"), vocab, "tok", "token_id")
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        md5(array_join(transform(col("ids"), _.cast("string")), ","))
          .as("ids_digest"))
  }

  /** Phonetic blocking codes ([[graft.ops.Phonetic.soundex]]) over the
    * pooled word vocabulary of part names, nation/region names, and
    * market segments — distinct words grouped by sound-alike code, the
    * recall-oriented complement to exact-prefix blocking. Both engines
    * run the step-identical translate/regex chain.
    */
  private def qSoundex(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "part").select(explode(split(col("p_name"), " ")).as("w"))
      .unionByName(t(s, dir, "nation").select(col("n_name").as("w")))
      .unionByName(t(s, dir, "region").select(col("r_name").as("w")))
      .unionByName(t(s, dir, "customer").select(col("c_mktsegment").as("w")))
      .distinct()
    words.select(col("w"), graft.ops.Phonetic.soundex(col("w")).as("code"))
      .groupBy("code").agg(count(lit(1)).as("n_words"),
        min("w").as("example_min"), max("w").as("example_max"))
  }

  /** Exact per-group OLS trend ([[graft.ops.Profiling.groupTrend]]):
    * order value in cents against order date in epoch days, per
    * priority class — drift detection with zero float anywhere, the
    * q_outliers exactness contract applied to the covariance form.
    */
  private def qTrend(s: SparkSession, dir: String): DataFrame =
    graft.ops.Profiling.groupTrend(
      t(s, dir, "orders").select(col("o_orderpriority"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")).as("x_days"),
        round(col("o_totalprice") * 100).cast("long").as("y_cents")),
      Seq("o_orderpriority"), col("x_days"), col("y_cents"))

  /** Data-contract quarantine ([[graft.ops.Contracts.quarantine]]):
    * named row rules over orders, violating rows grouped by their
    * deterministic rule-order violation label. Exercises a naturally
    * failing rule (price cap), a set-membership rule, an always-pass
    * format rule, and the NULL-counts-as-violation semantics (the
    * synthesized NULL custkey check).
    */
  private def qQuarantine(s: SparkSession, dir: String): DataFrame =
    graft.ops.Contracts.quarantine(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderpriority")),
        Seq(
          "price_cap" -> (col("o_totalprice") < 300000.0),
          "status_closed" -> col("o_orderstatus").isin("O", "F"),
          "priority_format" -> col("o_orderpriority").rlike("^[1-5]-"),
          "custkey_mod_check" ->
            (when(col("o_custkey") % 10 === 0, lit(null).cast("long"))
              .otherwise(col("o_custkey")) > 0)))
      .groupBy("violated_rules").agg(count(lit(1)).as("n"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))

  /** Dense global row ids WITHOUT a single-partition window
    * ([[graft.ops.Windows.denseIds]]): range-repartition + partition-
    * local numbering + broadcast offsets — the scalable form of
    * q_synthetic_id's driver-sized-only shape. Ids are a pure function
    * of the unique order key, so the oracle is a plain global
    * row_number.
    */
  private def qDenseIds(s: SparkSession, dir: String): DataFrame =
    graft.ops.Windows.denseIds(
      t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
      "c_custkey")

  /** SCD2 dimension build ([[graft.ops.Windows.scdHistory]]): orders
    * collapsed to a per-(customer, day) change log (arg-max on the
    * order key ≡ DuckDB arg_max), then versioned with
    * `[valid_from, valid_to)` ranges — the table
    * [[graft.ops.Joins.asofJoin]] queries point-in-time.
    */
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    val log = t(s, dir, "orders")
      .select(col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        col("o_orderkey"), col("o_orderstatus"))
      .groupBy("o_custkey", "day")
      .agg(max(struct(col("o_orderkey"), col("o_orderstatus"))).as("__m"))
      .select(col("o_custkey"), col("day"), col("__m.o_orderstatus").as("status"))
    graft.ops.Windows.scdHistory(log, Seq("o_custkey"), "day")
  }

  /** Corpus snapshot diff ([[graft.etl.Etl.snapshotDiff]]): v2 is a
    * deterministic perturbation of documents (every 13th removed,
    * every 17th edited, every 19th re-added under a new id), both
    * engines build it identically; the diff classifies by 60-bit
    * content digest through one full-outer join that moves two longs
    * per row, never the text.
    */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("source"))
    val v2 = docs.filter(col("doc_id") % 13 =!= 0)
      .withColumn("text", when(col("doc_id") % 17 === 0, concat(col("text"), lit(" EDIT")))
        .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"), col("source")))
    graft.etl.Etl.snapshotDiff(docs, v2, "doc_id", Seq("text", "source"))
      .groupBy("status").agg(count(lit(1)).as("n"),
        min("doc_id").as("min_key"), max("doc_id").as("max_key"))
  }

  /** Vocabulary build ([[graft.ops.Windows.denseIdsBy]] over token
    * counts): tokens at/above a frequency floor get contiguous ids by
    * descending count — the tokenizer-table shape, numbered WITHOUT a
    * single-partition window via the composite-order denseIds path.
    */
  private def qVocab(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 5)
    graft.ops.Windows.denseIdsBy(counts, Seq(col("cnt").desc, col("tok").asc), "token_id")
  }

  /** Point-in-range lookup ([[graft.ops.Joins.rangeLookupJoin]]):
    * orders (in exact cents) against OVERLAPPING price brackets — the
    * CIDR/bracket enrichment shape. Only the 4-row bracket side
    * explodes to bins; the fact side maps to one bin each. The oracle
    * is the naive BETWEEN theta-join — equality proves the binned
    * equi-join complete and duplicate-free.
    */
  private def qRangeLookup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val brackets = Seq(
      ("low", 0L, 10000000L),
      ("mid", 5000000L, 30000000L),
      ("high", 20000000L, 60000000L),
      ("vip", 45000000L, 100000000L)).toDF("bracket", "lo", "hi")
    val pts = t(s, dir, "orders").select(col("o_orderkey"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    graft.ops.Joins.rangeLookupJoin(pts, brackets, "cents", "lo", "hi",
        binSize = 5000000L)
      .groupBy("bracket")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
  }

  /** Time-series resample + LOCF gap-fill
    * ([[graft.ops.Windows.resampleLocf]]): per-user event values
    * sampled onto a daily grid (epoch micros), last observation
    * carried forward. The carried double is READ, never summed —
    * exact across engines; ties at one (user, ts) collapse by max
    * event_id on both sides.
    */
  private def qResample(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    val ev = raw.select(col("user_id"),
      tsMicros(raw, "ts").as("t_us"), col("value"), col("event_id"))
    graft.ops.Windows.resampleLocf(ev, Seq("user_id"), "t_us", "value",
      "event_id", step = 86400000000L)
  }

  /** Audio through the multimodal binary column
    * ([[graft.ops.Multimodal.AudioCodec]]): deterministic PCM per doc
    * id ENCODED into real RIFF/WAV bytes in one typed stage, DECODED
    * back by an independent chunk-walking parser in the next, integer
    * signal stats (sum of squares, peak) aggregated relationally. The
    * oracle recomputes the stats from the closed-form sample formula —
    * equality proves the encode → decode roundtrip bit-exact.
    */
  private def qAudioStats(s: SparkSession, dir: String): DataFrame = {
    val recs = graft.ops.Multimodal.synthAudioRecords(
      t(s, dir, "documents").filter(col("doc_id") % 7 === 0), "doc_id")
    graft.ops.Multimodal.decodeAudioFeatures(recs).toDF()
      .select(col("id").as("doc_id"), col("byteLen").cast("long").as("byte_len"),
        col("sampleRate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("nSamples").cast("long").as("n_samples"),
        col("sumSq").as("sum_sq"), col("peak").cast("long").as("peak"))
  }

  /** Unigram LM quality scoring
    * ([[graft.ops.TextAnalysis.lmUnigramScore]]): model trained on the
    * 80% reference slice (doc_id % 10 < 8), ALL documents scored —
    * held-out docs exercise the OOV smoothing path. Integer micro-nat
    * logprobs sum exactly on both engines.
    */
  private def qLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ops.TextAnalysis.lmUnigramScore(
      docs, "doc_id", col("text"),
      docs.filter(col("doc_id") % 10 < 8), col("text"))
  }

  // The synthetic page each document is wrapped into for
  // q_strip_html: head noise (style/script bodies holding bare '<'),
  // the text in a <p>, then a footer exercising every entity in the
  // decode table plus a comment. Both engines build the IDENTICAL
  // string, so digest equality proves the extraction chain char-exact.
  private val HtmlPre = "<html><head><title>Doc</title>" +
    "<style type=\"text/css\">body {color: #fff}</style>" +
    "<script>if (1 < 2) alert(\"x\");</script></head><body><h1>Doc "
  private val HtmlMid = "</h1><p>"
  private val HtmlPost = "</p><br/><div class=\"foot\">&amp;copy; " +
    "&lt;graft&gt;&nbsp;2026 &quot;it&#39;s&quot;</div><!-- hidden --></body></html>"

  /** HTML boilerplate stripping
    * ([[graft.ops.TextAnalysis.stripHtml]]): wrap → extract → digest.
    */
  private def qStripHtml(s: SparkSession, dir: String): DataFrame = {
    val html = concat(lit(HtmlPre), col("doc_id").cast("string"),
      lit(HtmlMid), col("text"), lit(HtmlPost))
    t(s, dir, "documents")
      .select(col("doc_id"), graft.ops.TextAnalysis.stripHtml(html).as("clean"))
      .select(col("doc_id"), md5(col("clean")).as("digest"),
        length(col("clean")).cast("long").as("n_chars_clean"),
        substring(col("clean"), 1, 40).as("head40"))
  }

  /** SemDeDup-style cluster representative
    * ([[graft.ops.Similarity.clusterKeeper]]): clusters from the
    * 4-plane LSH bucket (the oracle-expressible stand-in for k-means
    * assignments), keeper = exact integer L1-farthest from centroid.
    */
  private def qSemdedupKeeper(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
      .withColumn("cluster", graft.ops.Similarity.lshBucket(col("embedding"), 4))
    graft.ops.Similarity.clusterKeeper(e, "vec_id", "cluster", col("embedding"))
  }

  /** Scalar int8 embedding quantization
    * ([[graft.ops.Similarity.quantizeInt8]]): global per-dim stats →
    * map-only encode; the oracle recomputes the stats in SQL.
    */
  private def qQuantizeInt8(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.quantizeInt8(
      t(s, dir, "embeddings"), "vec_id", col("embedding"), EmbDim)
      .select("vec_id", "code_str")

  /** Per-document unigram entropy pieces
    * ([[graft.ops.TextAnalysis.tokenEntropy]]): all-BIGINT output,
    * `H = ln(n) − clogc/(10⁶·n)` derivable from the exact pieces.
    */
  private def qEntropy(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.tokenEntropy(
      t(s, dir, "documents"), "doc_id", col("text"))

  /** Frequency-weighted agreement
    * ([[graft.linkage.Comparators.frequencyWeightedAgreement]]):
    * account-balance-blocked customer pairs, market segment weighted
    * by value frequency over the full population — rare-segment
    * agreement scores higher. Output is the (agreed value, weight)
    * histogram.
    */
  private def qFreqWeight(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    def side(sfx: String) = c.select(
      col("c_custkey").as(s"id$sfx"),
      floor(col("c_acctbal") / 100).cast("long").as("blk"),
      col("c_mktsegment").as(s"c_mktsegment$sfx"))
    val pairs = side("_left").join(side("_right"), "blk")
      .filter(col("id_left") < col("id_right"))
    graft.linkage.Comparators
      .frequencyWeightedAgreement(pairs, "c_mktsegment", c, "c_mktsegment")
      .groupBy(col("c_mktsegment_agreed").as("segment"),
        col("c_mktsegment_fw_unat").as("fw_unat"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Training-mix token apportionment
    * ([[graft.ops.Sampling.apportionTokens]]): 1M-token budget split
    * across document sources by largest remainder — Σ quota = budget
    * exactly on both engines.
    */
  private def qApportion(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.apportionTokens(
      t(s, dir, "documents"), "source",
      graft.ops.TextAnalysis.tokenCountWs(col("text")).cast("long"),
      budget = 1000000L)

  /** Blocking quality metrics
    * ([[graft.linkage.Blocking.qualityMetrics]]): customer vs a
    * deterministically perturbed snapshot (30% of rows get +150
    * acctbal, which ALWAYS changes the /100 block) — pairs
    * completeness lands near 0.7, reduction ratio near 0.99, all from
    * exact counts.
    */
  private def qBlockingMetrics(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val shift = when(
      graft.ops.Sampling.hashBucket(col("c_custkey")) < 300, 150.0).otherwise(0.0)
    val a = c.select(col("c_custkey").as("id_left"),
      floor(col("c_acctbal") / 100).cast("long").as("blk"))
    val b = c.select(col("c_custkey").as("id_right"),
      floor((col("c_acctbal") + shift) / 100).cast("long").as("blk"))
    val cand = a.join(b, "blk").select("id_left", "id_right")
    val truth = c.select(col("c_custkey").as("id_left"),
      col("c_custkey").as("id_right"))
    val na = c.count()
    graft.linkage.Blocking.qualityMetrics(
      cand, truth, "id_left", "id_right", na * na)
  }

  /** 3-core of the thinned order–supplier graph
    * ([[graft.ops.Graphs.kCore]]): `l_quantity >= 45` keeps ~15% of
    * edges so peeling cascades (fixpoint by round 6 at sf0.1; 8
    * rounds gives slack and the spec asserts rounds−1 ≡ rounds).
    */
  private def qKcore(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graphs.kCore(
      t(s, dir, "lineitem").filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("src"), (-col("l_suppkey")).as("dst")),
      k = 3, rounds = 8)

  def entry(spark: SparkSession): DataFrame =
    qPatternCounts(spark, "/root/testdata/sf0.001")

  /** Name → build view of [[registry]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** Name → DuckDB SQL view of [[registry]]. */
  lazy val oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap

  /** Shared oracle for q_jaccard_prefix / q_jaccard_standing: the full
    * uncapped co-occurrence join — both Spark paths must reproduce it
    * exactly (the prefix filter, fresh- or stale-ranked, is recall-free).
    */
  private lazy val jaccardPrefixOracleSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, list_distinct(${graft.ops.Dedup.shinglesSql("text", 3)}) AS shl
       |  FROM documents),
       |shf AS (SELECT * FROM sh WHERE len(shl) > 0),
       |idx AS (
       |  SELECT doc_id, u.s AS shingle FROM shf, unnest(shf.shl) AS u(s)),
       |co AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM idx a JOIN idx b ON a.shingle = b.shingle
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |v AS (
       |  SELECT co.id_a, co.id_b, co.inter,
       |    CAST(len(sa.shl) AS BIGINT) AS size_a, CAST(len(sb.shl) AS BIGINT) AS size_b
       |  FROM co
       |  JOIN shf sa ON co.id_a = sa.doc_id
       |  JOIN shf sb ON co.id_b = sb.doc_id)
       |SELECT id_a, id_b, inter, size_a, size_b,
       |  CAST(inter AS DOUBLE) / (size_a + size_b - inter) AS jaccard
       |FROM v WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= $JacMinJaccard""".stripMargin

  /** One entry per implemented operator from SURVEY.md §2, each with
    * its DuckDB SQL over the same parquet tables. Lazy: the oracle
    * strings read vals defined anywhere in this object.
    */
  lazy val registry: Seq[QueryDef] = Seq(
    QueryDef("q_lineitem_agg", qLineitemAgg,
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty, count(*) AS n_rows, avg(l_quantity) AS avg_qty,
        |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    QueryDef("q_block_equi", qBlockEqui, customerBlockingOracle,
      SweepExcluded("pairs ∝ replicas² (fixed-cardinality keys): 2.076B-pair rung in SCALE_PROBE_r14")),
    QueryDef("q_block_predicate", qBlockPredicate,
      """SELECT a.c_custkey AS c_custkey_left, b.c_custkey AS c_custkey_right
        |FROM customer a JOIN customer b
        |  ON abs(a.c_acctbal - b.c_acctbal) < 1000.0 AND a.c_custkey < b.c_custkey
        |WHERE a.c_nationkey = 1 AND b.c_nationkey = 1""".stripMargin),
    QueryDef("q_synthetic_id", qSyntheticId,
      """SELECT row_number() OVER (ORDER BY n_nationkey) AS synthetic_id,
        |       n_nationkey, n_name
        |FROM nation""".stripMargin),
    QueryDef("q_pairs_assembly", qPairsAssembly,
      s"""WITH ids AS ($customerBlockingOracle)
         |SELECT ids.c_custkey_left, ids.c_custkey_right,
         |  a.c_name AS c_name_left, b.c_name AS c_name_right,
         |  a.c_mktsegment AS c_mktsegment_left, b.c_mktsegment AS c_mktsegment_right
         |FROM ids
         |LEFT JOIN customer a ON ids.c_custkey_left = a.c_custkey
         |LEFT JOIN customer b ON ids.c_custkey_right = b.c_custkey""".stripMargin,
      SweepExcluded("pairs ∝ replicas²: 2.076B-pair rung in SCALE_PROBE_r14")),
    QueryDef("q_pattern_counts", qPatternCounts,
      s"""WITH ids AS ($customerBlockingOracle),
         |compared AS (
         |  SELECT $customerComparatorsSql
         |  FROM ids
         |  LEFT JOIN customer a ON ids.c_custkey_left = a.c_custkey
         |  LEFT JOIN customer b ON ids.c_custkey_right = b.c_custkey
         |)
         |SELECT c_nationkey, c_name, count(*) AS n FROM compared
         |GROUP BY c_nationkey, c_name""".stripMargin,
      SweepExcluded("pairs ∝ replicas²: 2.076B-pair rung in SCALE_PROBE_r14 + SPILL_PROBE_r15")),
    QueryDef("q_jw_levels", qJwLevels,
      """WITH pairs AS (
        |  SELECT a.p_name AS p_name_left, b.p_name AS p_name_right
        |  FROM part a JOIN part b ON a.p_brand = b.p_brand
        |)
        |SELECT CASE WHEN jaro_winkler_similarity(p_name_left, p_name_right) = 1 THEN 'full agreement'
        |            WHEN jaro_winkler_similarity(p_name_left, p_name_right) > 0.9 THEN 'strong partial agreement'
        |            WHEN jaro_winkler_similarity(p_name_left, p_name_right) > 0.85 THEN 'weak partial agreement'
        |            ELSE 'no agreement' END AS p_name,
        |       count(*) AS n
        |FROM pairs GROUP BY 1""".stripMargin),
    QueryDef("q_u_probs", qUProbs, qUProbsOracle(
      """CASE WHEN a.c_nationkey = b.c_nationkey THEN 'agree'
        |     WHEN a.c_nationkey <> b.c_nationkey THEN 'disagree' END AS c_nationkey,
        |CASE WHEN jaro_winkler_similarity(a.c_name, b.c_name) = 1 THEN 'full agreement'
        |     WHEN jaro_winkler_similarity(a.c_name, b.c_name) > 0.9 THEN 'strong partial agreement'
        |     WHEN jaro_winkler_similarity(a.c_name, b.c_name) > 0.85 THEN 'weak partial agreement'
        |     ELSE 'no agreement' END AS c_name""".stripMargin)),
    QueryDef("q_scoring", qScoring,
      s"""WITH ids AS ($customerBlockingOracle),
         |compared AS (
         |  SELECT ids.c_custkey_left, ids.c_custkey_right, $customerComparatorsSql
         |  FROM ids
         |  LEFT JOIN customer a ON ids.c_custkey_left = a.c_custkey
         |  LEFT JOIN customer b ON ids.c_custkey_right = b.c_custkey
         |),
         |scored AS (
         |  SELECT c_custkey_left, c_custkey_right,
         |         ${weightSql(scoringTables)} AS weight
         |  FROM compared
         |)
         |SELECT c_custkey_left, c_custkey_right, round(weight, 6) AS weight
         |FROM scored WHERE weight > 2.5""".stripMargin,
      SweepExcluded("pairs ∝ replicas²: 2.076B-pair rung in SCALE_PROBE_r14")),
    QueryDef("q_window_fraction", qWindowFraction,
      """SELECT event_type, count(*) AS n,
        |       count(*) / (sum(count(*)) OVER () + 0.0) AS p
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("q_quantiles", qQuantiles,
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS p75_qty,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    QueryDef("q_rollup", qRollup,
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin),
    QueryDef("q_topk", qTopK,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin),
    QueryDef("q_set_ops", qSetOps,
      """SELECT c_nationkey, 'both' AS tag FROM (
        |  SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY')
        |UNION ALL
        |SELECT c_nationkey, 'building_only' AS tag FROM (
        |  SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT
        |  SELECT DISTINCT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY')""".stripMargin),
    QueryDef("q_na_safe_in", qNaSafeIn,
      """SELECT CASE WHEN NOT coalesce(nullif(o_orderstatus, 'P') IN ('O', 'F'), false)
        |            THEN 'na_or_other' ELSE 'known' END AS flag,
        |       count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin),
    QueryDef("q_stack_long", qStackLong,
      """WITH longf AS (
        |  SELECT 'o_orderstatus' AS name, o_orderstatus AS value FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority FROM orders)
        |SELECT name, value, count(*) AS n FROM longf GROUP BY name, value""".stripMargin),
    QueryDef("q_broadcast_lookup", qBroadcastLookup,
      """SELECT CASE l_returnflag WHEN 'A' THEN 'returned' WHEN 'N' THEN 'active'
        |            WHEN 'R' THEN 'refunded' END AS label,
        |       count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem WHERE l_returnflag IN ('A', 'N', 'R')
        |GROUP BY 1""".stripMargin),
    QueryDef("q_partitioned_write", qPartitionedWrite,
      """SELECT o_orderpriority, count(*) AS n,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q_partition_overwrite", qPartitionOverwrite,
      """SELECT o_orderpriority, count(*) AS n, min(o_orderkey) AS min_key
        |FROM orders
        |WHERE o_orderpriority <> '1-URGENT' OR o_orderkey % 2 = 0
        |GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q_range_pruned", qRangePruned,
      """SELECT count(*) AS n, sum(l_quantity) AS sum_qty,
        |       min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000""".stripMargin),
    QueryDef("q_zorder_pruned", qZorderPruned,
      """SELECT count(*) AS n, sum(l_quantity) AS sum_qty,
        |       min(l_orderkey) AS min_ok, max(l_partkey) AS max_pk
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
        |  AND l_partkey BETWEEN 100 AND 900""".stripMargin),
    QueryDef("q_jsonl_roundtrip", qJsonlRoundtrip,
      """SELECT count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin),
    QueryDef("q_orc_roundtrip", qOrcRoundtrip,
      """SELECT o_orderpriority, count(*) AS n,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |       CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders GROUP BY 1""".stripMargin),
    QueryDef("q_write_audit", qWriteAudit,
      """SELECT count(*) AS n_rows,
        |       CAST(coalesce(bit_xor(CAST(('0x' || substr(md5(concat_ws(chr(1),
        |         coalesce(CAST(o_orderkey AS VARCHAR), chr(2)),
        |         coalesce(CAST(o_custkey AS VARCHAR), chr(2)),
        |         coalesce(o_orderpriority, chr(2)))), 1, 15)) AS BIGINT)), 0) AS BIGINT) AS checksum
        |FROM orders""".stripMargin),
    QueryDef("q_bucketed_join", qBucketedJoin,
      """SELECT c.c_mktsegment, count(*) AS n,
        |       min(o.o_totalprice) AS min_price, max(o.o_totalprice) AS max_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin),
    QueryDef("q_ann_recall", qAnnRecall, {
      val cos = graft.ops.Similarity.cosineSql("a.v", "c.v", EmbDim)
      val cosJ = graft.ops.Similarity.cosineSql("ea.v", "eb.v", EmbDim)
      val tablesSql = (0 until RecallTables).map { t =>
        val b = graft.ops.Similarity.lshBucketSql(
          "v", EmbDim, RecallPlanes, graft.ops.Similarity.tableSeed(42L, t))
        s"SELECT id, v, $t AS tbl, $b AS bucket FROM e"
      }.mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings WHERE vec_id < 500),
         |exact AS (
         |  SELECT a.id AS id_a, c.id AS id_b
         |  FROM e a JOIN e c ON a.id < c.id
         |  WHERE round($cos, 6) >= 0.4),
         |bt AS ($tablesSql),
         |b AS (SELECT * FROM bt QUALIFY count(*) OVER (PARTITION BY tbl, bucket) <= $LshCap),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, c.id AS id_b
         |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.id < c.id),
         |approx AS (
         |  SELECT cand.id_a, cand.id_b FROM cand
         |  JOIN e ea ON cand.id_a = ea.id
         |  JOIN e eb ON cand.id_b = eb.id
         |  WHERE round($cosJ, 6) >= 0.4),
         |f AS (
         |  SELECT count(*) AS n_found FROM exact
         |  WHERE EXISTS (SELECT 1 FROM approx
         |                WHERE approx.id_a = exact.id_a AND approx.id_b = exact.id_b)),
         |x AS (SELECT count(*) AS n_exact FROM exact)
         |SELECT x.n_exact, f.n_found, CAST(f.n_found AS DOUBLE) / x.n_exact AS recall
         |FROM x, f""".stripMargin
    }),
    QueryDef("q_tsv_roundtrip", qTsvRoundtrip,
      """SELECT event_type, count(*) AS n,
        |       min(event_id) AS min_id, max(event_id) AS max_id,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type""".stripMargin),
    QueryDef("q_text_stats", qTextStats, {
      val stop = graft.ops.TextAnalysis.DefaultStopwords.map(s => s"'$s'").mkString(", ")
      s"""SELECT doc_id,
         |  length(text) AS n_chars,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS punct_ratio,
         |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ($stop))) AS DOUBLE) / len(string_split(text, ' ')) AS stopword_ratio,
         |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) / len(string_split(text, ' ')) AS mean_token_len,
         |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_tokens_bpe,
         |  ${graft.ops.TextAnalysis.languageIdSql("text")} AS lang_id,
         |  ${graft.ops.TextAnalysis.fingerprintSql("text")} AS fingerprint
         |FROM documents""".stripMargin
    }, HeavyScan),
    QueryDef("q_dedup_exact", qDedupExact,
      "SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique FROM documents"),
    QueryDef("q_dedup_keeplist", qDedupKeeplist,
      """SELECT doc_id, md5(text) AS digest,
        |  (doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS keep
        |FROM documents""".stripMargin),
    QueryDef("q_repetition", qRepetition, {
      val top = "list_max(list_transform(list_distinct(t), x -> len(list_filter(t, y -> y = x))))"
      s"""SELECT doc_id,
         |  len(t) AS n_tokens,
         |  len(list_distinct(t)) AS n_distinct_tokens,
         |  CAST($top AS BIGINT) AS top_token_count,
         |  CAST(len(shl) - len(list_distinct(shl)) AS BIGINT) AS dup_bigram_count,
         |  CAST($top AS DOUBLE) / len(t) AS top_token_frac
         |FROM (SELECT doc_id, string_split(text, ' ') AS t,
         |        ${graft.ops.Dedup.shinglesSql("text", 2)} AS shl
         |      FROM documents)""".stripMargin
    }, HeavyScan),
    QueryDef("q_hash_sample", qHashSample,
      s"""SELECT doc_id FROM documents
         |WHERE ${graft.ops.Sampling.hashBucketSql("doc_id")} < 100""".stripMargin),
    QueryDef("q_rare_tokens", qRareTokens,
      """WITH e AS (
        |  SELECT doc_id, u.w AS token
        |  FROM documents, unnest(string_split(text, ' ')) AS u(w)),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM e GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
        |SELECT doc_id, token, tf, df
        |FROM tf JOIN dfreq USING (token)
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY df, token) <= 3""".stripMargin, HeavyScan),
    QueryDef("q_decontaminate", qDecontaminate,
      s"""WITH bsh AS (
         |  SELECT DISTINCT u.sh
         |  FROM (SELECT list_distinct(${graft.ops.Dedup.shinglesSql("text", 3)}) AS shl
         |        FROM documents WHERE doc_id % 20 = 0) b,
         |       unnest(b.shl) AS u(sh)),
         |csh AS (
         |  SELECT doc_id, CAST(len(shl) AS BIGINT) AS n_shingles, u.sh
         |  FROM (SELECT doc_id, list_distinct(${graft.ops.Dedup.shinglesSql("text", 3)}) AS shl
         |        FROM documents
         |        WHERE doc_id % 20 <> 0 AND len(string_split(text, ' ')) >= 3) c,
         |       unnest(c.shl) AS u(sh))
         |SELECT doc_id, n_shingles, count(*) AS n_overlap
         |FROM csh JOIN bsh USING (sh)
         |GROUP BY doc_id, n_shingles
         |HAVING count(*) >= 5""".stripMargin),
    QueryDef("q_dedup_best", qDedupBest,
      s"""WITH RECURSIVE ${minhashCandCtes(8, 4, Some(LshCap))},
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM cand
         |  UNION SELECT id_b, id_a FROM cand),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.b AS id, reach.r FROM reach JOIN edges e ON reach.id = e.a),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT l.id AS doc_id, l.cluster_id,
         |  (row_number() OVER (PARTITION BY l.cluster_id
         |                      ORDER BY length(d.text) DESC, l.id) = 1) AS keep
         |FROM lab l JOIN documents d ON l.id = d.doc_id""".stripMargin),
    QueryDef("q_ngram_jaccard", qNgramJaccard,
      s"""WITH ${minhashCandCtes(jacK, jacBands, Some(LshCap))},
         |v AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(len(list_intersect(sa.shl, sb.shl)) AS BIGINT) AS inter,
         |    CAST(len(sa.shl) AS BIGINT) AS size_a, CAST(len(sb.shl) AS BIGINT) AS size_b
         |  FROM cand c
         |  JOIN shf sa ON c.id_a = sa.doc_id
         |  JOIN shf sb ON c.id_b = sb.doc_id)
         |SELECT id_a, id_b, inter, size_a, size_b,
         |  CAST(inter AS DOUBLE) / (size_a + size_b - inter) AS jaccard
         |FROM v WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= $JacMinJaccard""".stripMargin),
    QueryDef("q_jaccard_exact", qJaccardExact,
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(${graft.ops.Dedup.shinglesSql("text", 3)}) AS shl
         |  FROM documents),
         |shf AS (SELECT * FROM sh WHERE len(shl) > 0),
         |idx AS (
         |  SELECT doc_id, u.s AS shingle FROM shf, unnest(shf.shl) AS u(s)
         |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 50),
         |co AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM idx a JOIN idx b ON a.shingle = b.shingle
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |v AS (
         |  SELECT co.id_a, co.id_b, co.inter,
         |    CAST(len(sa.shl) AS BIGINT) AS size_a, CAST(len(sb.shl) AS BIGINT) AS size_b
         |  FROM co
         |  JOIN shf sa ON co.id_a = sa.doc_id
         |  JOIN shf sb ON co.id_b = sb.doc_id)
         |SELECT id_a, id_b, inter, size_a, size_b,
         |  CAST(inter AS DOUBLE) / (size_a + size_b - inter) AS jaccard
         |FROM v WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= $JacMinJaccard""".stripMargin),
    QueryDef("q_jaccard_prefix", qJaccardPrefix, jaccardPrefixOracleSql, HeavyScan,
      SweepExcluded("already at TRUE sf10 in SCALE_PROBE_r14 (864.6 s, linear, 32-wide)")),
    // Same oracle by design: a stale frequency snapshot reorders the
    // prefix, never the verified result (see qJaccardStanding).
    QueryDef("q_jaccard_standing", qJaccardStanding, jaccardPrefixOracleSql),
    QueryDef("q_minhash_lsh", qMinhashLsh,
      s"WITH ${minhashCandCtes(8, 4, Some(LshCap))} SELECT id_a, id_b FROM cand", HeavyScan,
      SweepExcluded("already at TRUE sf10 in SCALE_PROBE_r14 (22.5 s)")),
    // Stream ≡ batch: the accumulated streaming sink must equal the
    // batch LSH candidate set (same corpus, same params, cap untripped).
    QueryDef("q_stream_lsh", qStreamLsh,
      s"WITH ${minhashCandCtes(8, 4, Some(LshCap))} SELECT id_a, id_b FROM cand"),
    QueryDef("q_dedup_clusters", qDedupClusters,
      s"""WITH RECURSIVE ${minhashCandCtes(8, 4, Some(LshCap))},
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM cand
         |  UNION SELECT id_b, id_a FROM cand),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.b AS id, reach.r FROM reach JOIN edges e ON reach.id = e.a)
         |SELECT id AS doc_id, min(r) AS cluster_id, (min(r) = id) AS keep
         |FROM reach GROUP BY id""".stripMargin),
    QueryDef("q_simhash", qSimhash,
      s"""WITH ${graft.ops.Dedup.simhashFpCtesSql("documents", "doc_id", "text", 60)},
         |${graft.ops.Dedup.simhashPairsSql(5, 60, Some(LshCap))}
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin, HeavyScan),
    QueryDef("q_ann_topk", qAnnTopK,
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |sim AS (
         |  SELECT query_id, neighbor_id,
         |    round(${graft.ops.Similarity.cosineSql("qv", "cv", EmbDim)}, 6) AS cosine
         |  FROM q, c WHERE query_id <> neighbor_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM sim)
         |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5""".stripMargin),
    QueryDef("q_lsh_neardups", qLshNearDups,
      s"""WITH b0 AS (
         |  SELECT vec_id AS id, embedding AS v,
         |    ${graft.ops.Similarity.lshBucketSql("embedding", EmbDim, 8)} AS bucket
         |  FROM embeddings),
         |b AS (SELECT * FROM b0 QUALIFY count(*) OVER (PARTITION BY bucket) <= $LshCap),
         |pairs AS (
         |  SELECT a.id AS id_a, c.id AS id_b,
         |    round(${graft.ops.Similarity.cosineSql("a.v", "c.v", EmbDim)}, 6) AS cosine
         |  FROM b a JOIN b c ON a.bucket = c.bucket
         |  WHERE a.id < c.id)
         |SELECT * FROM pairs WHERE cosine >= 0.4""".stripMargin),
    QueryDef("q_multimodal_stats", qMultimodalStats,
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  md5(text) AS digest,
        |  CAST(ord(substr(text, 1, 1)) AS BIGINT) AS first_byte
        |FROM documents""".stripMargin),
    QueryDef("q_event_window", qEventWindow,
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |       event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin),
    QueryDef("q_rename_join", qRenameJoin,
      """SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin),
    QueryDef("q_date_exact", qDateExact,
      """SELECT CASE WHEN a.o_orderdate = b.o_orderdate THEN 'agree' ELSE 'disagree' END AS date_cmp,
        |       count(*) AS n
        |FROM orders a JOIN orders b
        |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
        |GROUP BY 1""".stripMargin),
    QueryDef("q_asof_join", qAsofJoin,
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey,
        |         arg_max(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders WHERE o_custkey % 3 <> 0 GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, r.o_orderkey, r.o_totalprice
        |FROM events e ASOF LEFT JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate""".stripMargin),
    QueryDef("q_band_join", qBandJoin,
      """SELECT a.user_id, a.event_id AS event_id_a, b.event_id AS event_id_b,
        |       a.event_type AS type_a, b.event_type AS type_b,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 3600000000""".stripMargin),
    QueryDef("q_salted_join", qSaltedJoin,
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin,
      HeavyScanAdjudicated("salt explode feeds the shuffle join IMMEDIATELY — " +
        "salting exists to shape that exchange; per-row work is one literal sequence")),
    QueryDef("q_ivf_topk", qIvfTopK,
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |assign AS (
         |  SELECT e.vec_id AS id, e.embedding AS ev, c.cid
         |  FROM embeddings e, cent c
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${graft.ops.Similarity.cosineSql("e.embedding", "c.cv", EmbDim)} DESC, c.cid) = 1),
         |probes AS (
         |  SELECT q.vec_id AS query_id, q.embedding AS qv, c.cid
         |  FROM embeddings q, cent c WHERE q.vec_id < 5
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY ${graft.ops.Similarity.cosineSql("q.embedding", "c.cv", EmbDim)} DESC, c.cid) <= 2),
         |sim AS (
         |  SELECT p.query_id, a.id AS neighbor_id,
         |         round(${graft.ops.Similarity.cosineSql("p.qv", "a.ev", EmbDim)}, 6) AS cosine
         |  FROM probes p JOIN assign a ON p.cid = a.cid WHERE a.id <> p.query_id)
         |SELECT query_id, neighbor_id, cosine, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rank FROM sim)
         |WHERE rank <= 5""".stripMargin),
    // K-means mirror: the same quantize → argmin → truncating-mean
    // rounds as a MATERIALIZED CTE pyramid; every integer is exact in
    // both engines, so 3 chained rounds stay hash-identical.
    QueryDef("q_kmeans", qKmeans,
      s"""WITH ${graft.ops.Similarity.kmeansMicroSqlCtes(
            "embeddings", "vec_id", "embedding", 8, EmbDim, 3)}
         |SELECT cid, pos, c_micro, n_members FROM km""".stripMargin),
    // PQ mirror: per-subspace codebook pyramids + the same argmin
    // encode and integer ADC sum; ranks tie-broken (dist, id).
    QueryDef("q_pq_topk", qPqTopK, graft.ops.Similarity.pqOracleSql(
      "embeddings", "vec_id", "embedding",
      dim = EmbDim, m = 4, ksub = 4, rounds = 2, nQueries = 8, k = 5)),
    // IVF-PQ mirror: coarse-router pyramid + (dist, cid) probe lists
    // + the PQ encode chain, ADC restricted to probed lists.
    QueryDef("q_ivfpq_topk", qIvfPqTopK, graft.ops.Similarity.ivfPqOracleSql(
      "embeddings", "vec_id", "embedding",
      dim = EmbDim, kCoarse = 8, coarseRounds = 2, nprobe = 3,
      m = 4, ksub = 4, rounds = 2, nQueries = 8, k = 5)),
    // Anti-join mirror: the NOT EXISTS form of the same orphan set.
    QueryDef("q_anti_join", qAntiJoin,
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers_no_orders,
        |       min(c_custkey) AS min_custkey, max(c_custkey) AS max_custkey
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1""".stripMargin),
    // Token-budget mirror: same distinct-ratio quality, same
    // (q DESC, doc_id) prefix sum, same 2/5 integer budget.
    QueryDef("q_token_budget", qTokenBudget,
      """WITH tq AS (
        |  SELECT doc_id, source, ts FROM (
        |    SELECT doc_id, source,
        |           list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |    FROM documents) WHERE len(ts) >= 1),
        |tb AS (
        |  SELECT doc_id, source, CAST(len(ts) AS BIGINT) AS n_toks,
        |         CAST((len(list_distinct(ts)) * 1000000) // len(ts) AS BIGINT) AS q
        |  FROM tq),
        |tot AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS tt FROM tb GROUP BY 1),
        |rk AS (
        |  SELECT tb.*, tot.tt,
        |    CAST(sum(n_toks) OVER (PARTITION BY tb.source ORDER BY q DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM tb JOIN tot USING (source))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  tt AS total_tokens, (tt * 2) // 5 AS budget_tokens,
        |  CAST(sum(CASE WHEN cum <= (tt * 2) // 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN cum <= (tt * 2) // 5 THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM rk GROUP BY source, tt""".stripMargin),
    // Leakage-split mirror: the q_dedup_clusters CC chain, then the
    // hashBucket split keyed on cluster_id and the spanning-cluster
    // tally (0 by construction — the guard the row certifies).
    QueryDef("q_leakage_split", qLeakageSplit,
      s"""WITH RECURSIVE ${minhashCandCtes(8, 4, Some(LshCap))},
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM cand
         |  UNION SELECT id_b, id_a FROM cand),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.b AS id, reach.r FROM reach JOIN edges e ON reach.id = e.a),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sp AS (
         |  SELECT doc_id, cluster_id,
         |    CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, cluster_id,
         |          ${graft.ops.Sampling.hashBucketSql(
                      "'lsplit:' || CAST(cluster_id AS VARCHAR)")} AS b
         |        FROM cl)),
         |leak AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_leaky FROM (
         |    SELECT cluster_id FROM sp GROUP BY 1 HAVING count(DISTINCT split) > 1))
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
         |  leak.n_leaky AS n_leaky_clusters
         |FROM sp, leak GROUP BY 1, leak.n_leaky""".stripMargin),
    // Source-overlap mirror: same distinct (source, shingle) sets,
    // same shingle-keyed pair counts, same exact Jaccard ppm.
    QueryDef("q_source_overlap", qSourceOverlap,
      s"""WITH sh AS (
         |  SELECT DISTINCT source AS g, u.sh
         |  FROM (SELECT source, ${graft.ops.Dedup.shinglesSql("text", 3)} AS shs
         |        FROM documents), unnest(shs) AS u(sh)),
         |sz AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
         |p AS (
         |  SELECT a.g AS src_a, b.g AS src_b, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.g < b.g
         |  GROUP BY 1, 2)
         |SELECT p.src_a, p.src_b, p.n_shared,
         |  CAST((p.n_shared * 1000000) // (sa.n + sb.n - p.n_shared) AS BIGINT) AS jaccard_ppm
         |FROM p JOIN sz sa ON sa.g = p.src_a
         |       JOIN sz sb ON sb.g = p.src_b""".stripMargin),
    // Distinctive-tokens mirror: same counts, same HUGEINT lift with
    // +1 smoothing, same (lift DESC, token) top-5 per source.
    QueryDef("q_distinctive_tokens", qDistinctiveTokens,
      """WITH tk AS (
        |  SELECT source AS g, u.tok FROM (
        |    SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |    FROM documents), unnest(ts) AS u(tok)),
        |cgt AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c_gt FROM tk GROUP BY 1, 2),
        |ct AS (SELECT tok, CAST(sum(c_gt) AS BIGINT) AS c_t FROM cgt GROUP BY 1),
        |tg AS (SELECT g, CAST(sum(c_gt) AS BIGINT) AS t_g FROM cgt GROUP BY 1),
        |tt AS (SELECT CAST(sum(t_g) AS BIGINT) AS t FROM tg),
        |sc AS (
        |  SELECT cgt.g, cgt.tok, cgt.c_gt,
        |    CAST((CAST(c_gt AS HUGEINT) * (tt.t - tg.t_g) * 1000000)
        |      // (CAST(c_t - c_gt + 1 AS HUGEINT) * tg.t_g) AS BIGINT) AS lift_ppm
        |  FROM cgt JOIN ct USING (tok) JOIN tg USING (g), tt
        |  WHERE c_gt >= 5),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY lift_ppm DESC, tok) AS rnk
        |       FROM sc)
        |SELECT g AS source, tok, c_gt AS n_in_group, lift_ppm,
        |       CAST(rnk AS BIGINT) AS rank
        |FROM rk WHERE rnk <= 5""".stripMargin),
    // OOV mirror: same hashBucket split, same train vocab left join,
    // same exact ppm.
    QueryDef("q_oov_rate", qOovRate,
      s"""WITH sp AS (
         |  SELECT doc_id, text,
         |    CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, text,
         |          ${graft.ops.Sampling.hashBucketSql(
                      "'split:' || CAST(doc_id AS VARCHAR)")} AS b
         |        FROM documents)),
         |tk AS (SELECT split, u.tok FROM (
         |  SELECT split, list_filter(string_split(text, ' '), x -> x <> '') AS ts
         |  FROM sp), unnest(ts) AS u(tok)),
         |tv AS (SELECT DISTINCT tok FROM tk WHERE split = 'train'),
         |j AS (SELECT t.split, t.tok, tv.tok IS NOT NULL AS seen
         |      FROM tk t LEFT JOIN tv ON tv.tok = t.tok WHERE t.split <> 'train')
         |SELECT split, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN NOT seen THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_tokens,
         |  CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
         |  CAST(count(DISTINCT CASE WHEN NOT seen THEN tok END) AS BIGINT) AS n_oov_types,
         |  CAST((sum(CASE WHEN NOT seen THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS oov_ppm
         |FROM j GROUP BY 1""".stripMargin),
    // AUC mirror: same md5 channels as q_calibration, same per-score
    // counts, same doubled-U rank-sum in HUGEINT, floor-ppm out.
    QueryDef("q_auc", qAuc,
      """WITH sc AS (
        |  SELECT CAST(('0x' || substr(md5('cal:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS s,
        |         CAST(('0x' || substr(md5('coin:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
        |           < CAST(('0x' || substr(md5('cal:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS y
        |  FROM orders),
        |g AS (SELECT s, CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |             CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |      FROM sc GROUP BY 1),
        |c AS (SELECT s, np, nn,
        |        CAST(coalesce(sum(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cn
        |      FROM g),
        |u AS (SELECT CAST(sum(CAST(np AS HUGEINT) * (2 * CAST(cn AS HUGEINT) + nn)) AS HUGEINT) AS u2,
        |             CAST(sum(np) AS HUGEINT) AS p, CAST(sum(nn) AS HUGEINT) AS q
        |      FROM c)
        |SELECT CAST(p + q AS BIGINT) AS n, CAST(p AS BIGINT) AS n_pos,
        |       CAST(q AS BIGINT) AS n_neg,
        |       CASE WHEN p * q = 0 THEN NULL
        |            ELSE CAST((u2 * 1000000) // (2 * p * q) AS BIGINT) END AS auc_ppm
        |FROM u""".stripMargin),
    // KS mirror: same banded supports, same full-outer merge, same
    // cumulative floor-ppm ECDFs, max-D with min-v tie-break.
    QueryDef("q_ks_test", qKsTest,
      """WITH a AS (SELECT n_chars // 10 AS v FROM documents WHERE lang = 'en'),
        |b AS (SELECT n_chars // 10 AS v FROM documents WHERE lang = 'zh'),
        |ca AS (SELECT v, CAST(count(*) AS BIGINT) AS na FROM a GROUP BY 1),
        |cb AS (SELECT v, CAST(count(*) AS BIGINT) AS nb FROM b GROUP BY 1),
        |m AS (SELECT coalesce(ca.v, cb.v) AS v, coalesce(na, 0) AS na,
        |             coalesce(nb, 0) AS nb
        |      FROM ca FULL JOIN cb ON ca.v = cb.v),
        |c AS (SELECT v,
        |        CAST(sum(na) OVER w AS BIGINT) AS cra,
        |        CAST(sum(nb) OVER w AS BIGINT) AS crb
        |      FROM m WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT max(cra) AS ta, max(crb) AS tb FROM c),
        |d AS (SELECT v, abs((cra * 1000000) // t.ta - (crb * 1000000) // t.tb) AS dv
        |      FROM c, t),
        |mx AS (SELECT max(dv) AS d_ppm FROM d)
        |SELECT t.ta AS n_a, t.tb AS n_b, CAST(mx.d_ppm AS BIGINT) AS d_ppm,
        |       (SELECT min(v) FROM d WHERE d.dv = mx.d_ppm) AS at_v
        |FROM t, mx""".stripMargin),
    // Gini mirror: same (weight, key) rank order, same rearrangement
    // identity in HUGEINT, same floor-ppm out.
    QueryDef("q_gini", qGini,
      """WITH k AS (SELECT source AS k, CAST(sum(n_chars) AS BIGINT) AS w
        |           FROM documents GROUP BY 1),
        |r AS (SELECT w, row_number() OVER (ORDER BY w, k) AS i FROM k),
        |a AS (SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(w) AS HUGEINT) AS s,
        |             CAST(sum(CAST(i AS HUGEINT) * w) AS HUGEINT) AS iw,
        |             CAST(max(w) AS HUGEINT) AS mx
        |      FROM r)
        |SELECT CAST(n AS BIGINT) AS n_keys, CAST(s AS BIGINT) AS total_weight,
        |  CASE WHEN n * s = 0 THEN NULL
        |       ELSE CAST(((2 * iw - (n + 1) * s) * 1000000) // (n * s) AS BIGINT) END AS gini_ppm,
        |  CASE WHEN s = 0 THEN NULL
        |       ELSE CAST((mx * 1000000) // s AS BIGINT) END AS top_share_ppm
        |FROM a""".stripMargin),
    // Link-prediction mirror: same canonical edge set, same hub-cap
    // on wedge middles, same anti join and (n_common DESC, u, v)
    // total order.
    QueryDef("q_link_predict", qLinkPredict,
      """WITH raw AS (
        |  SELECT o_orderkey % 1500 AS a, o_custkey % 1500 AS b FROM orders),
        |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        |      FROM raw WHERE a <> b),
        |sym AS (SELECT u AS s, v AS d FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS dg FROM sym GROUP BY 1),
        |adj AS (SELECT sym.s, sym.d FROM sym
        |        JOIN deg ON deg.s = sym.s AND deg.dg <= 64),
        |wed AS (SELECT a1.d AS u, a2.d AS v, CAST(count(*) AS BIGINT) AS n_common
        |        FROM adj a1 JOIN adj a2 ON a1.s = a2.s AND a1.d < a2.d
        |        GROUP BY 1, 2 HAVING count(*) >= 2),
        |nw AS (SELECT w.u, w.v, w.n_common FROM wed w
        |       LEFT JOIN e ON e.u = w.u AND e.v = w.v WHERE e.u IS NULL),
        |sc AS (SELECT n.u, n.v, n.n_common, du.dg * dv.dg AS pa_score
        |       FROM nw n JOIN deg du ON du.s = n.u JOIN deg dv ON dv.s = n.v)
        |SELECT u, v, n_common, pa_score,
        |       CAST(row_number() OVER (ORDER BY n_common DESC, u, v) AS BIGINT) AS rank
        |FROM sc
        |QUALIFY rank <= 50""".stripMargin),
    // Heaps mirror: same stream indices, same bin-length bands, same
    // cumulative windows.
    QueryDef("q_heaps", qHeaps,
      s"""WITH ${graft.ops.TextAnalysis.heapsLawSqlCtes(
            "documents", "doc_id", "text", 8192)}
         |SELECT band, n_tokens, n_types, type_token_ppm FROM heaps""".stripMargin),
    // Randomized-response mirror: same md5 coin, same XOR report,
    // same remainder-subtraction debias (est may leave [0, 1e6]).
    QueryDef("q_randomized_response", qRandomizedResponse,
      """WITH r AS (
        |  SELECT c_mktsegment AS g,
        |         ((c_acctbal < 0) <>
        |          (CAST(('0x' || substr(md5('rr:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < 250000)) AS rep
        |  FROM customer),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(CASE WHEN rep THEN 1 ELSE 0 END) AS BIGINT) AS n_reported
        |      FROM r GROUP BY 1),
        |o AS (SELECT g, n, n_reported,
        |             (n_reported * 1000000) // n AS obs_ppm FROM a)
        |SELECT g, n, n_reported, obs_ppm,
        |  CAST((((obs_ppm - 250000) * 1000000
        |         - ((obs_ppm - 250000) * 1000000) % 500000) // 500000) AS BIGINT) AS est_ppm
        |FROM o""".stripMargin),
    // T-closeness mirror: same class×category grid, same cumulative
    // floor-ppm distributions, same integral EMD.
    QueryDef("q_t_closeness", qTCloseness,
      """WITH k AS (SELECT c_nationkey AS q0, c_mktsegment AS q1,
        |                  CAST(floor(c_acctbal / 1000) AS BIGINT) AS c
        |           FROM customer),
        |cat AS (SELECT c, CAST(count(*) AS BIGINT) AS gn FROM k GROUP BY 1),
        |gt AS (SELECT CAST(sum(gn) AS BIGINT) AS t, count(*) AS m FROM cat),
        |gc AS (SELECT c,
        |         (CAST(sum(gn) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) * 1000000) // gt.t AS gppm,
        |         gt.m AS m
        |       FROM cat, gt),
        |cls AS (SELECT q0, q1, CAST(count(*) AS BIGINT) AS class_size
        |        FROM k GROUP BY 1, 2),
        |cnt AS (SELECT q0, q1, c, CAST(count(*) AS BIGINT) AS cn
        |        FROM k GROUP BY 1, 2, 3),
        |grid AS (SELECT cls.q0, cls.q1, cls.class_size, gc.c, gc.gppm, gc.m,
        |                coalesce(cnt.cn, 0) AS cn
        |         FROM cls CROSS JOIN gc
        |         LEFT JOIN cnt ON cnt.q0 = cls.q0 AND cnt.q1 = cls.q1
        |                      AND cnt.c = gc.c),
        |cum AS (SELECT q0, q1, class_size, m, gppm,
        |          (CAST(sum(cn) OVER (PARTITION BY q0, q1 ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) * 1000000) // class_size AS cppm
        |        FROM grid)
        |SELECT q0, q1, class_size,
        |       CAST(sum(abs(cppm - gppm)) AS BIGINT) // (max(m) - 1) AS emd_ppm,
        |       (CAST(sum(abs(cppm - gppm)) AS BIGINT) // (max(m) - 1)) > 200000 AS risky
        |FROM cum GROUP BY 1, 2, 3""".stripMargin),
    // PRF1 mirror: same md5 channels, same threshold explode, same
    // single-division floor-ppm precision/recall/F1.
    QueryDef("q_prf1", qPrf1,
      """WITH sc AS (
        |  SELECT CAST(('0x' || substr(md5('cal:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS s,
        |         CAST(('0x' || substr(md5('coin:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
        |           < CAST(('0x' || substr(md5('cal:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS y
        |  FROM orders),
        |th(threshold) AS (VALUES (CAST(250000 AS BIGINT)), (CAST(500000 AS BIGINT)), (CAST(750000 AS BIGINT))),
        |g AS (SELECT th.threshold,
        |        CAST(sum(CASE WHEN s >= th.threshold AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |        CAST(sum(CASE WHEN s >= th.threshold AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |        CAST(sum(CASE WHEN s < th.threshold AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |        CAST(sum(CASE WHEN s < th.threshold AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |      FROM sc, th GROUP BY 1)
        |SELECT threshold, tp, fp, fn, tn,
        |  CASE WHEN tp + fp = 0 THEN NULL ELSE CAST((tp * 1000000) // (tp + fp) AS BIGINT) END AS precision_ppm,
        |  CASE WHEN tp + fn = 0 THEN NULL ELSE CAST((tp * 1000000) // (tp + fn) AS BIGINT) END AS recall_ppm,
        |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL ELSE CAST((tp * 2000000) // (2 * tp + fp + fn) AS BIGINT) END AS f1_ppm
        |FROM g""".stripMargin),
    // McNemar mirror: same three md5 channels, same discordant-count
    // milli statistic.
    QueryDef("q_mcnemar", qMcnemar,
      """WITH ch AS (
        |  SELECT CAST(('0x' || substr(md5('cal:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS s,
        |         CAST(('0x' || substr(md5('coin:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS cn,
        |         CAST(('0x' || substr(md5('alt:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS alt
        |  FROM orders),
        |p AS (SELECT ((s >= 500000) = (cn < s)) AS ca,
        |             ((alt >= 500000) = (cn < s)) AS cb
        |      FROM ch)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |  CAST(sum(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |  CAST(sum(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(sum(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS n_neither,
        |  CASE WHEN sum(CASE WHEN ca <> cb THEN 1 ELSE 0 END) = 0 THEN NULL
        |       ELSE CAST(((sum(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) - sum(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END))
        |                  * (sum(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) - sum(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END))
        |                  * 1000) // sum(CASE WHEN ca <> cb THEN 1 ELSE 0 END) AS BIGINT) END AS chi2_milli
        |FROM p""".stripMargin),
    // Odds-ratio mirror: same 2x2 strata, same floor-ppm per-stratum
    // OR and Mantel-Haenszel pooled terms.
    QueryDef("q_odds_ratio", qOddsRatio,
      """WITH t2 AS (
        |  SELECT CAST(c_nationkey AS VARCHAR) AS stratum,
        |         (c_mktsegment = 'AUTOMOBILE') AS e, (c_acctbal < 0) AS o
        |  FROM customer),
        |tab AS (SELECT stratum,
        |          CAST(sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |          CAST(sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |          CAST(sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |          CAST(sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS d
        |        FROM t2 GROUP BY 1),
        |pool AS (SELECT CAST(sum(a) AS BIGINT) AS a, CAST(sum(b) AS BIGINT) AS b,
        |           CAST(sum(c) AS BIGINT) AS c, CAST(sum(d) AS BIGINT) AS d,
        |           sum((CAST(a AS HUGEINT) * d * 1000000) // (a + b + c + d)) AS sn,
        |           sum((CAST(b AS HUGEINT) * c * 1000000) // (a + b + c + d)) AS sd
        |         FROM tab)
        |SELECT stratum, a, b, c, d,
        |  CASE WHEN b * c = 0 THEN NULL
        |       ELSE CAST((CAST(a AS HUGEINT) * d * 1000000) // (CAST(b AS HUGEINT) * c) AS BIGINT) END AS or_ppm
        |FROM tab
        |UNION ALL
        |SELECT '__pooled__', a, b, c, d,
        |  CASE WHEN sd = 0 THEN NULL ELSE CAST((sn * 1000000) // sd AS BIGINT) END
        |FROM pool""".stripMargin),
    // RAKE mirror: same stopword segmentation, same degree/freq word
    // scores and phrase-sum top-50.
    QueryDef("q_rake", qRake,
      s"""WITH ${graft.ops.TextAnalysis.rakeSqlCtes(
            "documents", "doc_id", "text", RakeStopwords, 50)}
         |SELECT phrase, n_words, n_occurrences, score_ppm, rank FROM rake""".stripMargin),
    // Bootstrap mirror: same md5 uniforms against the SAME
    // Scala-computed Poisson CDF literal, same floor-milli means.
    QueryDef("q_bootstrap", qBootstrap,
      s"""WITH b AS (
         |  SELECT CAST(o_orderkey AS VARCHAR) AS k,
         |         CAST(floor(o_totalprice * 100) AS BIGINT) AS v
         |  FROM orders),
         |r AS (SELECT k, v, u.r AS replicate
         |      FROM b, unnest(generate_series(0, 15)) AS u(r)),
         |w AS (SELECT replicate, v,
         |        len(list_filter(${graft.ops.Sampling.poissonCdfPpmSql}, c ->
         |          c <= CAST(('0x' || substr(md5('boot:' || replicate || ':' || k), 1, 15)) AS BIGINT) % 1000000)) AS w
         |      FROM r),
         |g AS (SELECT CAST(replicate AS INT) AS replicate,
         |             CAST(sum(w) AS BIGINT) AS n_eff,
         |             CAST(sum(CAST(w AS HUGEINT) * v) AS HUGEINT) AS ws
         |      FROM w GROUP BY 1
         |      UNION ALL
         |      SELECT -1, CAST(count(*) AS BIGINT), CAST(sum(v) AS HUGEINT) FROM b)
         |SELECT replicate, n_eff,
         |       CASE WHEN n_eff = 0 THEN NULL
         |            ELSE CAST((ws * 1000) // n_eff AS BIGINT) END AS mean_milli
         |FROM g""".stripMargin,
      HeavyScanAdjudicated("sequence(1,16) is a bounded resample fan-out into an " +
        "immediate 17-key hash agg — shuffle-bound, no per-row kernel")),
    // Confusion-matrix mirror: same md5 class/flip channels, same
    // cell agg + marginals, same floor-ppm recall/precision.
    QueryDef("q_confusion", qConfusion,
      """WITH base AS (
        |  SELECT 'c' || CAST(y AS VARCHAR) AS label,
        |         'c' || CAST(CASE WHEN f < 700000 THEN y
        |                          ELSE (y + 1 + f % 2) % 3 END AS VARCHAR) AS pred
        |  FROM (SELECT
        |          CAST(('0x' || substr(md5('cls:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 % 3 AS y,
        |          CAST(('0x' || substr(md5('flip:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS f
        |        FROM orders)),
        |cells AS (SELECT label, pred, CAST(count(*) AS BIGINT) AS n
        |          FROM base GROUP BY 1, 2),
        |rm AS (SELECT label, CAST(sum(n) AS BIGINT) AS n_label FROM cells GROUP BY 1),
        |cm AS (SELECT pred, CAST(sum(n) AS BIGINT) AS n_pred FROM cells GROUP BY 1)
        |SELECT c.label, c.pred, c.n, rm.n_label, cm.n_pred,
        |  CAST((c.n * 1000000) // rm.n_label AS BIGINT) AS recall_ppm,
        |  CAST((c.n * 1000000) // cm.n_pred AS BIGINT) AS precision_ppm
        |FROM cells c JOIN rm USING (label) JOIN cm USING (pred)""".stripMargin),
    // Class-balance mirror: same md5 class skew and keep channels,
    // same min-class ppm thresholds, same kept set (checksummed).
    QueryDef("q_class_balance", qClassBalance,
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CASE WHEN ch < 600000 THEN 'common'
        |         WHEN ch < 900000 THEN 'mid' ELSE 'rare' END AS class,
        |    CAST(('0x' || substr(md5('cbk:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS bk
        |  FROM (SELECT o_orderkey,
        |          CAST(('0x' || substr(md5('cbc:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS ch
        |        FROM orders)),
        |cnt AS (SELECT class, CAST(count(*) AS BIGINT) AS n_class FROM base GROUP BY 1),
        |m AS (SELECT min(n_class) AS mn FROM cnt),
        |th AS (SELECT class, n_class,
        |              CAST((m.mn * 1000000) // n_class AS BIGINT) AS keep_ppm
        |       FROM cnt, m),
        |kept AS (SELECT b.class, t.n_class, t.keep_ppm, b.o_orderkey
        |         FROM base b JOIN th t USING (class) WHERE b.bk < t.keep_ppm)
        |SELECT class, n_class, keep_ppm,
        |       CAST(count(*) AS BIGINT) AS n_selected,
        |       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
        |FROM kept GROUP BY 1, 2, 3""".stripMargin),
    // Rolling-median mirror: quantile_disc(0.5) over the identical
    // trailing-7 frame picks the identical lower-median ELEMENT.
    QueryDef("q_rolling_median", qRollingMedian,
      s"""WITH $DailySeriesCtes
         |SELECT t, x,
         |  quantile_disc(x, 0.5) OVER
         |    (ORDER BY t ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med
         |FROM ser""".stripMargin),
    // Theil–Sen mirror: same scale-free weekly series, same
    // truncating micro-slope (Spark div ≡ DuckDB // on negatives),
    // same lower-median rank under (s, wa, wb).
    QueryDef("q_theil_sen", qTheilSen,
      """WITH d0 AS (SELECT min(o_orderdate) AS v FROM orders),
        |wk AS (SELECT o_orderpriority,
        |              CAST(datediff('day', d0.v, o_orderdate) AS BIGINT) // 7 AS w,
        |              CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |       FROM orders, d0),
        |weekly AS (SELECT o_orderpriority, w, CAST(sum(cents) AS BIGINT) AS wc
        |           FROM wk GROUP BY 1, 2),
        |tot AS (SELECT o_orderpriority, CAST(sum(wc) AS BIGINT) AS tc,
        |               CAST(count(*) AS BIGINT) AS nw
        |        FROM weekly GROUP BY 1),
        |ser AS (SELECT weekly.o_orderpriority, w, (wc * nw * 1000) // tc AS x
        |        FROM weekly JOIN tot USING (o_orderpriority)),
        |pairs AS (SELECT a.o_orderpriority, a.w AS wa, b.w AS wb,
        |                 ((b.x - a.x) * 1000000) // (b.w - a.w) AS s
        |          FROM ser a JOIN ser b
        |            ON a.o_orderpriority = b.o_orderpriority AND a.w < b.w),
        |rk AS (SELECT *,
        |         row_number() OVER (PARTITION BY o_orderpriority ORDER BY s, wa, wb) AS rnk,
        |         count(*) OVER (PARTITION BY o_orderpriority) AS np
        |       FROM pairs)
        |SELECT o_orderpriority, CAST(np AS BIGINT) AS n_pairs,
        |       CAST(s AS BIGINT) AS slope_micro
        |FROM rk WHERE rnk = (np + 1) // 2""".stripMargin),
    // Dup-rate mirror: the LSH candidate CTEs, pair-member explode,
    // per-source floor-ppm.
    QueryDef("q_dup_rate", qDupRate,
      s"""WITH ${minhashCandCtes(8, 4, Some(LshCap))},
         |mem AS (SELECT DISTINCT doc_id FROM (
         |  SELECT id_a AS doc_id FROM cand
         |  UNION ALL SELECT id_b FROM cand))
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_members,
         |  CAST((sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS dup_ppm
         |FROM documents d LEFT JOIN mem m ON m.doc_id = d.doc_id
         |GROUP BY 1""".stripMargin),
    // Bloom-FPR mirror: the q_bloom_index bit machinery at 16 Kbit,
    // probed with guaranteed-absent negative keys.
    QueryDef("q_bloom_fpr", qBloomFpr, {
      def arms(keyExpr: String) = (0 until 3).map(i =>
        s"WHEN gs.i = $i THEN ${graft.ops.Sketches.bloomBitSql(keyExpr, i, 16384)}")
        .mkString("CASE ", " ", " END")
      s"""WITH o AS (SELECT o_orderkey % 8 AS file, o_custkey FROM orders),
         |bitsrc AS (
         |  SELECT file, ${arms("o_custkey")} AS bit
         |  FROM o, generate_series(0, 2) gs(i)),
         |idx AS (
         |  SELECT file, bit // 32 AS word,
         |         bit_or(1::BIGINT << (bit % 32)::INT) AS bits
         |  FROM bitsrc GROUP BY 1, 2),
         |probes AS (SELECT -u.x AS probe_key
         |           FROM (SELECT unnest(generate_series(1, 2000)) AS x) u),
         |pb AS (
         |  SELECT probe_key, f.file, ${arms("probe_key")} AS bit
         |  FROM probes, (SELECT DISTINCT file FROM o) f, generate_series(0, 2) gs(i)),
         |hit AS (
         |  SELECT pb.probe_key, pb.file,
         |    CASE WHEN (coalesce(idx.bits, 0) & (1::BIGINT << (pb.bit % 32)::INT))
         |              = (1::BIGINT << (pb.bit % 32)::INT) THEN 1 ELSE 0 END AS h
         |  FROM pb LEFT JOIN idx ON idx.file = pb.file AND idx.word = pb.bit // 32),
         |mb AS (SELECT probe_key, file, sum(h) = 3 AS maybe FROM hit GROUP BY 1, 2)
         |SELECT file, CAST(count(*) AS BIGINT) AS n_probes,
         |  CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
         |  CAST((sum(CASE WHEN maybe THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT)
         |    AS fpr_ppm
         |FROM mb GROUP BY 1""".stripMargin
    }),
    // Weekly-churn mirror: same epoch-micro weeks, same (user, w+1)
    // self-join, same last-week exclusion.
    QueryDef("q_weekly_churn", qWeeklyChurn,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t_us FROM events),
        |t0 AS (SELECT min(t_us) AS v0 FROM e),
        |uw AS (SELECT DISTINCT user_id, (t_us - t0.v0) // 604800000000 AS w
        |       FROM e, t0),
        |mx AS (SELECT max(w) AS mw FROM uw),
        |j AS (SELECT a.w, a.user_id, b.user_id IS NOT NULL AS ret
        |      FROM uw a LEFT JOIN uw b
        |        ON b.user_id = a.user_id AND b.w = a.w + 1)
        |SELECT w, CAST(count(*) AS BIGINT) AS n_active,
        |  CAST(sum(CASE WHEN ret THEN 0 ELSE 1 END) AS BIGINT) AS n_churned,
        |  CAST((sum(CASE WHEN ret THEN 0 ELSE 1 END) * 1000000) // count(*) AS BIGINT)
        |    AS churn_ppm
        |FROM j, mx WHERE w < mw GROUP BY 1""".stripMargin),
    // Lorenz mirror: same (weight, key) total-order ranks, same
    // decile rank selection, same truncating cumulative-share ppm.
    QueryDef("q_lorenz", qLorenz,
      """WITH k AS (SELECT CAST(o_custkey AS VARCHAR) AS kk,
        |                  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS kw
        |           FROM orders GROUP BY 1),
        |r AS (SELECT kk, kw, row_number() OVER (ORDER BY kw, kk) AS rk,
        |             sum(kw) OVER (ORDER BY kw, kk
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM k),
        |tot AS (SELECT max(rk) AS n, sum(kw) AS t FROM r),
        |d AS (SELECT unnest(generate_series(1, 10)) AS decile)
        |SELECT CAST(d.decile AS BIGINT) AS decile,
        |       CAST(r.rk AS BIGINT) AS n_keys_cum,
        |       CAST((CAST(r.cum AS HUGEINT) * 1000000) // tot.t AS BIGINT)
        |         AS cum_weight_ppm
        |FROM r, tot, d WHERE r.rk = (tot.n * d.decile) // 10""".stripMargin),
    // Smoothed-rates mirror: same key agg, same Beta(5,95) shrink,
    // same (smoothed desc, key) rank, same top-20.
    QueryDef("q_smoothed_rates", qSmoothedRates,
      """WITH e AS (SELECT 'p' || CAST(user_id % 200 AS VARCHAR) AS key,
        |                  event_type = 'click' AS p
        |           FROM events WHERE event_type IN ('view', 'click')),
        |agg AS (SELECT key, CAST(count(*) AS BIGINT) AS n,
        |               CAST(sum(CASE WHEN p THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |        FROM e GROUP BY 1),
        |sc AS (SELECT key, n, pos,
        |         CAST((pos * 1000000) // n AS BIGINT) AS rate_ppm,
        |         CAST(((pos + 5) * 1000000) // (n + 100) AS BIGINT) AS smoothed_ppm
        |       FROM agg),
        |rk AS (SELECT *, row_number() OVER (ORDER BY smoothed_ppm DESC, key) AS rank
        |       FROM sc)
        |SELECT key, n, pos, rate_ppm, smoothed_ppm, CAST(rank AS BIGINT) AS rank
        |FROM rk WHERE rank <= 20""".stripMargin),
    // Seasonal-naive-MASE mirror: same daily series, same lag
    // windows, same decimal cross-multiplied floor-ppm.
    QueryDef("q_seasonal_naive", qSeasonalNaive,
      s"""WITH $DailySeriesCtes,
         |e AS (SELECT x,
         |        abs(x - lag(x, 7) OVER (ORDER BY t)) AS ep,
         |        abs(x - lag(x, 1) OVER (ORDER BY t)) AS e1
         |      FROM ser)
         |SELECT
         |  CAST(sum(CASE WHEN ep IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seasonal,
         |  CAST(coalesce(sum(ep), 0) AS BIGINT) AS sum_abs_seasonal,
         |  CAST(sum(CASE WHEN e1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_naive,
         |  CAST(coalesce(sum(e1), 0) AS BIGINT) AS sum_abs_naive,
         |  CASE WHEN coalesce(sum(e1), 0) = 0
         |         OR sum(CASE WHEN ep IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN NULL
         |       ELSE CAST((CAST(sum(ep) AS HUGEINT)
         |                  * sum(CASE WHEN e1 IS NOT NULL THEN 1 ELSE 0 END)
         |                  * 1000000)
         |         // (CAST(sum(e1) AS HUGEINT)
         |             * sum(CASE WHEN ep IS NOT NULL THEN 1 ELSE 0 END)) AS BIGINT)
         |  END AS mase_ppm
         |FROM e""".stripMargin),
    // Capture-recapture mirror: both detector CTE chains (disjoint
    // names), canonical distinct pairs, Chapman's estimator.
    QueryDef("q_dedup_capture", qDedupCapture,
      s"""WITH ${minhashCandCtes(8, 4, Some(LshCap))},
         |${graft.ops.Dedup.simhashFpCtesSql("documents", "doc_id", "text", 60)},
         |${graft.ops.Dedup.simhashPairsSql(5, 60, Some(LshCap))},
         |pa AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b FROM cand),
         |pb AS (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b FROM pairs),
         |na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM pa),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM pb),
         |nm AS (SELECT CAST(count(*) AS BIGINT) AS n_both
         |       FROM pa JOIN pb USING (a, b)),
         |est AS (SELECT n_a, n_b, n_both,
         |          ((n_a + 1) * (n_b + 1)) // (n_both + 1) - 1 AS est_total
         |        FROM na, nb, nm)
         |SELECT n_a, n_b, n_both, est_total,
         |  CASE WHEN est_total <= 0 THEN NULL
         |       ELSE CAST((n_a * 1000000) // est_total AS BIGINT) END AS recall_a_ppm,
         |  CASE WHEN est_total <= 0 THEN NULL
         |       ELSE CAST((n_b * 1000000) // est_total AS BIGINT) END AS recall_b_ppm
         |FROM est""".stripMargin),
    // Langid-eval mirror: the literal languageIdSql cascade against
    // the truth column, through the q_confusion cell/marginal SQL.
    QueryDef("q_langid_eval", qLangidEval,
      s"""WITH base AS (
         |  SELECT lang AS label, ${graft.ops.TextAnalysis.languageIdSql("text")} AS pred
         |  FROM documents),
         |cells AS (SELECT label, pred, CAST(count(*) AS BIGINT) AS n
         |          FROM base GROUP BY 1, 2),
         |rm AS (SELECT label, CAST(sum(n) AS BIGINT) AS n_label FROM cells GROUP BY 1),
         |cm AS (SELECT pred, CAST(sum(n) AS BIGINT) AS n_pred FROM cells GROUP BY 1)
         |SELECT c.label, c.pred, c.n, rm.n_label, cm.n_pred,
         |  CAST((c.n * 1000000) // rm.n_label AS BIGINT) AS recall_ppm,
         |  CAST((c.n * 1000000) // cm.n_pred AS BIGINT) AS precision_ppm
         |FROM cells c JOIN rm USING (label) JOIN cm USING (pred)""".stripMargin),
    // Session-path mirror: the q_sessionize session CTE, ordered
    // list agg with the event_id tie-break, same top-20 order.
    QueryDef("q_session_path", qSessionPath,
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us
        |           FROM events),
        |flags AS (
        |  SELECT user_id, event_id, event_type, t_us,
        |    CASE WHEN lag(t_us) OVER w IS NULL
        |           OR t_us - lag(t_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS sess_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us)),
        |sessions AS (
        |  SELECT user_id, event_id, event_type, t_us,
        |    CAST(sum(sess_start) OVER (PARTITION BY user_id ORDER BY t_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flags),
        |paths AS (
        |  SELECT array_to_string(
        |           (list(event_type ORDER BY t_us, event_id))[1:5], '>') AS path
        |  FROM sessions GROUP BY user_id, session_id),
        |cnt AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        |        FROM paths GROUP BY 1),
        |rk AS (SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path) AS r
        |       FROM cnt)
        |SELECT path, n_sessions FROM rk WHERE r <= 20""".stripMargin),
    // Cohort-LTV mirror: same epoch-micro week grid, same exact
    // cents, same cumulative window over (cohort, age).
    QueryDef("q_cohort_ltv", qCohortLtv,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t_us,
        |                  CAST(floor(value * 100) AS BIGINT) AS v FROM events),
        |t0 AS (SELECT min(t_us) AS v0 FROM e),
        |wk AS (SELECT user_id, (t_us - t0.v0) // 604800000000 AS w, v FROM e, t0),
        |fw AS (SELECT user_id, min(w) AS cohort_w FROM wk GROUP BY 1),
        |grid AS (SELECT cohort_w, w - cohort_w AS age_w,
        |                CAST(count(DISTINCT wk.user_id) AS BIGINT) AS n_users,
        |                CAST(sum(v) AS BIGINT) AS cents
        |         FROM wk JOIN fw USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_w, age_w, n_users, cents,
        |  CAST(sum(cents) OVER (PARTITION BY cohort_w ORDER BY age_w
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        |FROM grid""".stripMargin),
    // DP-histogram mirror: same md5 channels, same trailing-ones
    // geometric draws via bit_count(x XOR (x+1)) - 1, same clamp.
    QueryDef("q_dp_hist", qDpHist,
      """WITH h AS (SELECT c_mktsegment AS key, CAST(count(*) AS BIGINT) AS n
        |           FROM customer GROUP BY 1),
        |ch AS (SELECT key, n,
        |         CAST(('0x' || substr(md5('dp8:a:' || key), 1, 15)) AS BIGINT) AS ca,
        |         CAST(('0x' || substr(md5('dp8:b:' || key), 1, 15)) AS BIGINT) AS cb
        |       FROM h)
        |SELECT key, n,
        |  CAST((bit_count(xor(ca, ca + 1)) - 1)
        |       - (bit_count(xor(cb, cb + 1)) - 1) AS BIGINT) AS noise,
        |  greatest(n + (bit_count(xor(ca, ca + 1)) - 1)
        |             - (bit_count(xor(cb, cb + 1)) - 1), 0) AS dp_n
        |FROM ch""".stripMargin),
    // Funnel-latency mirror: same first-view/first-purchase-after
    // min-aggs in epoch micros, same type-1 rank percentiles.
    QueryDef("q_funnel_time", qFunnelTime,
      """WITH f AS (SELECT user_id, min(epoch_us(ts)) AS t0
        |           FROM events WHERE event_type = 'view' GROUP BY 1),
        |lat AS (
        |  SELECT e.user_id, (min(epoch_us(e.ts)) - f.t0) // 1000000 AS val
        |  FROM events e JOIN f ON f.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= f.t0
        |  GROUP BY e.user_id, f.t0),
        |v AS (SELECT CAST(val AS BIGINT) AS val FROM lat),
        |rk AS (
        |  SELECT val, row_number() OVER (ORDER BY val) AS rk,
        |         count(*) OVER () AS n
        |  FROM v),
        |ps AS (SELECT unnest([50, 90, 99]) AS p)
        |SELECT CAST(p AS INT) AS p, val AS value
        |FROM rk, ps WHERE rk = ((n - 1) * p) // 100 + 1""".stripMargin),
    // Quantile-normalization mirror: same (value, id) total-order
    // ranks per source, same truncating per-rank pooled mean.
    QueryDef("q_quantile_norm", qQuantileNorm,
      """WITH ranked AS (
        |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS value,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars, doc_id) AS rk
        |  FROM documents),
        |prof AS (SELECT rk,
        |           CAST(sum(CAST(value AS HUGEINT)) // count(*) AS BIGINT)
        |             AS norm_value
        |         FROM ranked GROUP BY 1)
        |SELECT source, doc_id, value, norm_value
        |FROM ranked JOIN prof USING (rk)""".stripMargin),
    // SRM mirror: same md5 split, same cleared-fraction chi-square
    // terms floored to milli per cell before the 2-cell sum.
    QueryDef("q_srm", qSrm,
      """WITH obs AS (
        |  SELECT CASE WHEN ch < 500000 THEN 'A' ELSE 'B' END AS v, count(*) AS o
        |  FROM (SELECT CAST(('0x' || substr(md5('srm:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS ch
        |        FROM orders) GROUP BY 1),
        |w AS (SELECT * FROM (VALUES ('A', 1), ('B', 1)) AS t(v, w)),
        |cells AS (SELECT w.v, CAST(w.w AS BIGINT) AS w,
        |                 CAST(coalesce(o.o, 0) AS BIGINT) AS o
        |          FROM w LEFT JOIN obs o ON o.v = w.v),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |terms AS (
        |  SELECT o, w, n,
        |    CASE WHEN n * w * 2 = 0 THEN 0
        |         ELSE CAST(((CAST(o AS HUGEINT) * 2 - CAST(n AS HUGEINT) * w)
        |                    * (CAST(o AS HUGEINT) * 2 - CAST(n AS HUGEINT) * w)
        |                    * 1000)
        |           // (CAST(n AS HUGEINT) * w * 2) AS BIGINT) END AS t
        |  FROM cells, tot)
        |SELECT max(n) AS n, CAST(count(*) AS BIGINT) AS n_cells,
        |       CAST(count(*) - 1 AS BIGINT) AS df,
        |       CAST(sum(t) AS BIGINT) AS chi2_milli
        |FROM terms""".stripMargin),
    // CUPED mirror: same md5 split, same 5-sum HUGEINT theta, same
    // fixed-order truncating milli means and adjustment.
    QueryDef("q_cuped", qCuped,
      """WITH v AS (
        |  SELECT CASE WHEN ch < 500000 THEN 'A' ELSE 'B' END AS variant,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) AS y,
        |         CAST(floor(o_totalprice) AS BIGINT) * 100 AS x
        |  FROM (SELECT o_totalprice,
        |          CAST(('0x' || substr(md5('cup:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS ch
        |        FROM orders)),
        |per AS (SELECT variant, CAST(count(*) AS BIGINT) AS nv,
        |               CAST(sum(y) AS BIGINT) AS syv, CAST(sum(x) AS BIGINT) AS sxv
        |        FROM v GROUP BY 1),
        |pooled AS (SELECT count(*) AS n,
        |                  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |                  sum(CAST(x AS HUGEINT) * y) AS sxy,
        |                  sum(CAST(x AS HUGEINT) * x) AS sxx
        |           FROM v),
        |th AS (SELECT
        |         CASE WHEN n * sxx - sx * sx = 0 THEN 0
        |              ELSE CAST(((n * sxy - sx * sy) * 1000000)
        |                // (n * sxx - sx * sx) AS BIGINT) END AS theta_ppm,
        |         CAST((sx * 1000) // n AS BIGINT) AS mx_milli
        |       FROM pooled)
        |SELECT variant, nv AS n,
        |       CAST((syv * 1000) // nv AS BIGINT) AS mean_y_milli, theta_ppm,
        |       CAST((syv * 1000) // nv
        |            - (theta_ppm * ((sxv * 1000) // nv - mx_milli)) // 1000000
        |         AS BIGINT) AS adj_mean_y_milli
        |FROM per, th""".stripMargin),
    // Weighted-kappa mirror: same md5 ordinal raters, same
    // cells×cells |a−b| distance fold in HUGEINT, same ppm division.
    QueryDef("q_weighted_kappa", qWeightedKappa,
      """WITH r AS (
        |  SELECT ca % 5 AS a, least(ca % 5 + cf // 800000, 4) AS b
        |  FROM (SELECT
        |          CAST(('0x' || substr(md5('wka:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS ca,
        |          CAST(('0x' || substr(md5('wkf:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS cf
        |        FROM orders)),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n FROM r GROUP BY 1, 2),
        |ra AS (SELECT a AS c, CAST(sum(n) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |cb AS (SELECT b AS c2, CAST(sum(n) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |den AS (SELECT sum(CAST(ra AS HUGEINT) * cb * abs(c - c2)) AS e FROM ra, cb),
        |obs AS (SELECT CAST(sum(n) AS BIGINT) AS t,
        |               sum(CAST(n AS HUGEINT) * abs(a - b)) AS d
        |        FROM cells)
        |SELECT t AS n, CAST(d AS BIGINT) AS sum_dist,
        |  CASE WHEN e = 0 THEN NULL
        |       ELSE CAST(((e - CAST(t AS HUGEINT) * d) * 1000000) // e AS BIGINT) END
        |    AS kappa_w_ppm
        |FROM obs, den""".stripMargin),
    // Burstiness mirror: same (doc, token) counts, same HUGEINT Fano
    // identity, same (fano desc, token) top-50.
    QueryDef("q_burstiness", qBurstiness,
      """WITH tc AS (
        |  SELECT doc_id, tok AS token, count(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY 1, 2),
        |st AS (SELECT token, CAST(count(*) AS BIGINT) AS df_docs,
        |              CAST(sum(c) AS BIGINT) AS n_occ,
        |              sum(CAST(c AS HUGEINT) * c) AS ss
        |       FROM tc GROUP BY 1 HAVING count(*) >= 5),
        |f AS (SELECT token, df_docs, n_occ,
        |        CAST(((CAST(df_docs AS HUGEINT) * ss
        |               - CAST(n_occ AS HUGEINT) * n_occ) * 1000000)
        |          // (CAST(n_occ AS HUGEINT) * df_docs) AS BIGINT) AS fano_ppm
        |      FROM st),
        |r AS (SELECT *, row_number() OVER (ORDER BY fano_ppm DESC, token) AS rnk
        |      FROM f)
        |SELECT token, df_docs, n_occ, fano_ppm FROM r WHERE rnk <= 50""".stripMargin),
    // Assortativity mirror: same stub construction, same exact
    // 5-sum corr identity in HUGEINT, same r2-ppm + sign outputs.
    QueryDef("q_assortativity", qAssortativity,
      """WITH e0 AS (SELECT DISTINCT l_orderkey AS a, -l_suppkey AS b
        |            FROM lineitem WHERE l_quantity >= 45),
        |sym AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
        |stubs AS (SELECT da.d AS x, db.d AS y
        |          FROM sym s JOIN deg da ON da.a = s.a JOIN deg db ON db.a = s.b),
        |st AS (SELECT count(*) AS n,
        |              sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |              sum(CAST(x AS HUGEINT) * y) AS sxy,
        |              sum(CAST(x AS HUGEINT) * x) AS sxx,
        |              sum(CAST(y AS HUGEINT) * y) AS syy
        |       FROM stubs),
        |fin AS (SELECT n, n * sxy - sx * sy AS num,
        |               n * sxx - sx * sx AS den1, n * syy - sy * sy AS den2
        |        FROM st)
        |SELECT CAST(n AS BIGINT) AS n_stubs,
        |  CASE WHEN den1 = 0 OR den2 = 0 THEN NULL
        |       ELSE CAST((1000000 * num * num) // (den1 * den2) AS BIGINT) END
        |    AS r2_ppm,
        |  CASE WHEN den1 = 0 OR den2 = 0 THEN NULL
        |       ELSE CAST(sign(num) AS INT) END AS corr_sign
        |FROM fin""".stripMargin),
    // Reciprocity mirror: same distinct residue edges, same reversed
    // self-join, same floor-ppm share.
    QueryDef("q_reciprocity", qReciprocity,
      """WITH e AS (SELECT DISTINCT l_orderkey % 2000 AS a, l_partkey % 2000 AS b
        |           FROM lineitem WHERE l_orderkey % 2000 <> l_partkey % 2000),
        |j AS (SELECT e1.a, e1.b, e2.a IS NOT NULL AS rec
        |      FROM e e1 LEFT JOIN e e2 ON e2.a = e1.b AND e2.b = e1.a)
        |SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  CAST(sum(CASE WHEN rec THEN 1 ELSE 0 END) AS BIGINT) AS n_reciprocal,
        |  CAST((sum(CASE WHEN rec THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT)
        |    AS reciprocity_ppm
        |FROM j""".stripMargin),
    // Grid-cluster mirror: same micro-quantized floor cells, same
    // core threshold, recursive min-reach over 8-neighbor adjacency.
    QueryDef("q_grid_cluster", qGridCluster,
      """WITH RECURSIVE pts AS (
        |  SELECT (CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) + 1000000) // 50000 AS cell_x,
        |         (CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) + 1000000) // 50000 AS cell_y
        |  FROM embeddings),
        |cells AS (SELECT cell_x, cell_y, CAST(count(*) AS BIGINT) AS n_points
        |          FROM pts GROUP BY 1, 2),
        |core AS (SELECT *, cell_x * 1000000 + cell_y AS cid
        |         FROM cells WHERE n_points >= 4),
        |edges AS (
        |  SELECT a.cid AS a, b.cid AS b FROM core a JOIN core b
        |  ON abs(a.cell_x - b.cell_x) <= 1 AND abs(a.cell_y - b.cell_y) <= 1
        |     AND a.cid <> b.cid),
        |reach AS (
        |  SELECT cid AS id, cid AS r FROM core
        |  UNION
        |  SELECT e.b AS id, reach.r FROM reach JOIN edges e ON reach.id = e.a)
        |SELECT c.cell_x, c.cell_y, c.n_points, m.cluster_id
        |FROM core c JOIN (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1) m
        |  ON m.id = c.cid""".stripMargin),
    // Split-perplexity mirror: same hashBucket split, same add-one
    // unigram micro-nat scoring trained on the train split only.
    QueryDef("q_split_perplexity", qSplitPerplexity,
      s"""WITH sp AS (
         |  SELECT doc_id, text,
         |    CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id, text,
         |          ${graft.ops.Sampling.hashBucketSql(
                      "'split:' || CAST(doc_id AS VARCHAR)")} AS b
         |        FROM documents)),
         |ref AS (SELECT unnest(string_split(text, ' ')) AS tok
         |        FROM sp WHERE split = 'train'),
         |vocab AS (SELECT tok, count(*) AS cnt FROM ref WHERE tok <> '' GROUP BY 1),
         |st AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS v FROM vocab),
         |tk AS (SELECT doc_id, split, unnest(string_split(text, ' ')) AS tok FROM sp),
         |j AS (
         |  SELECT t.doc_id, t.split,
         |         CAST(floor(ln(CAST(coalesce(vb.cnt, 0) + 1 AS DOUBLE) /
         |           CAST(st.total + st.v AS DOUBLE)) * 1000000) AS BIGINT) AS unat
         |  FROM tk t LEFT JOIN vocab vb USING (tok), st WHERE t.tok <> ''),
         |d AS (SELECT doc_id, split, CAST(count(*) AS BIGINT) AS nt,
         |             CAST(sum(unat) AS BIGINT) AS lp
         |      FROM j GROUP BY 1, 2)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(nt) AS BIGINT) AS n_tokens,
         |       CAST(sum(lp) AS BIGINT) AS logprob_unat,
         |       CAST(sum(lp) // sum(nt) AS BIGINT) AS per_token_unat
         |FROM d GROUP BY 1""".stripMargin),
    // EWMA mirror: byte-identical lag-weight expression emitted by
    // ewmaTruncSql over the shared daily-series CTEs.
    QueryDef("q_ewma", qEwma,
      s"""WITH $DailySeriesCtes
         |SELECT t, x,
         |  ${graft.ops.Windows.ewmaTruncSql("x", "t", 6)} AS ewma_milli
         |FROM ser""".stripMargin),
    // Info-gain mirror: same stacked feature cells (UNION ALL vs
    // explode(map)), same four floor-primitive sums per feature.
    QueryDef("q_info_gain", qInfoGain,
      """WITH base AS (
        |  SELECT CASE WHEN o_totalprice >= 300000 THEN 'big' ELSE 'small' END AS y,
        |         o_orderpriority AS pri, o_orderstatus AS sta,
        |         CAST(CAST(floor(o_totalprice / 100000) AS BIGINT) AS VARCHAR) AS band,
        |         CAST(year(o_orderdate) AS VARCHAR) AS yr
        |  FROM orders),
        |stacked AS (
        |  SELECT 'priority' AS feature, pri AS v, y FROM base
        |  UNION ALL SELECT 'status', sta, y FROM base
        |  UNION ALL SELECT 'price_band', band, y FROM base
        |  UNION ALL SELECT 'year', yr, y FROM base),
        |cells AS (SELECT feature, v, y, CAST(count(*) AS BIGINT) AS c
        |          FROM stacked GROUP BY 1, 2, 3),
        |cs AS (SELECT feature,
        |         CAST(sum(CAST(floor(ln(CAST(c AS DOUBLE)) * c * 1000000) AS BIGINT)) AS BIGINT) AS hc,
        |         CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(c) AS BIGINT) AS n
        |       FROM cells GROUP BY 1),
        |va AS (SELECT feature,
        |         CAST(sum(CAST(floor(ln(CAST(cv AS DOUBLE)) * cv * 1000000) AS BIGINT)) AS BIGINT) AS ha
        |       FROM (SELECT feature, v, CAST(sum(c) AS BIGINT) AS cv
        |             FROM cells GROUP BY 1, 2) GROUP BY 1),
        |ya AS (SELECT feature,
        |         CAST(sum(CAST(floor(ln(CAST(cy AS DOUBLE)) * cy * 1000000) AS BIGINT)) AS BIGINT) AS hb
        |       FROM (SELECT feature, y, CAST(sum(c) AS BIGINT) AS cy
        |             FROM cells GROUP BY 1, 2) GROUP BY 1)
        |SELECT cs.feature, n, n_cells,
        |       hc + CAST(floor(ln(CAST(n AS DOUBLE)) * n * 1000000) AS BIGINT) - ha - hb
        |         AS mi_unat
        |FROM cs JOIN va USING (feature) JOIN ya USING (feature)""".stripMargin),
    // Mutual-information mirror: four sums of the proven q_entropy
    // floor-primitive ⌊c·ln(c)·10⁶⌋, combined identically.
    QueryDef("q_mutual_info", qMutualInfo,
      """WITH cells AS (
        |  SELECT o_orderpriority AS a, o_orderstatus AS b,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2),
        |cs AS (SELECT
        |         CAST(sum(CAST(floor(ln(CAST(c AS DOUBLE)) * c * 1000000) AS BIGINT)) AS BIGINT) AS hc,
        |         CAST(count(*) AS BIGINT) AS n_cells,
        |         CAST(sum(c) AS BIGINT) AS n
        |       FROM cells),
        |am AS (SELECT CAST(sum(CAST(floor(ln(CAST(ca AS DOUBLE)) * ca * 1000000) AS BIGINT)) AS BIGINT) AS ha
        |       FROM (SELECT CAST(sum(c) AS BIGINT) AS ca FROM cells GROUP BY a)),
        |bm AS (SELECT CAST(sum(CAST(floor(ln(CAST(cb AS DOUBLE)) * cb * 1000000) AS BIGINT)) AS BIGINT) AS hb
        |       FROM (SELECT CAST(sum(c) AS BIGINT) AS cb FROM cells GROUP BY b))
        |SELECT n, n_cells,
        |  hc + CAST(floor(ln(CAST(n AS DOUBLE)) * n * 1000000) AS BIGINT) - ha - hb
        |    AS mi_unat
        |FROM cs, am, bm""".stripMargin),
    // Zipf mirror: same top-1024 total order, same rank-octave bands
    // and rank*freq invariant bounds.
    QueryDef("q_zipf", qZipf,
      s"""WITH ${graft.ops.TextAnalysis.zipfProfileSqlCtes("documents", "text", 1024)}
         |SELECT band, n_ranks, band_mass, rf_min, rf_max FROM zipf""".stripMargin),
    // Semantic-decontamination mirror: same micro quantization, same
    // integer dot/norm, same floor-ppm cos-squared keep test.
    QueryDef("q_semantic_decontaminate", qSemanticDecontaminate,
      s"""WITH e AS (
         |  SELECT vec_id,
         |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
         |  FROM embeddings),
         |nv AS (SELECT vec_id, v,
         |         CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nn FROM e),
         |bch AS (SELECT vec_id AS bench_id, v AS vb, nn AS nb FROM nv WHERE vec_id % 8 = 0),
         |cor AS (SELECT vec_id AS corpus_id, v AS vc, nn AS nc FROM nv WHERE vec_id % 8 <> 0),
         |pr AS (SELECT bench_id, corpus_id,
         |         CAST(list_sum(list_transform(generate_series(1, $EmbDim), i -> vc[i] * vb[i])) AS BIGINT) AS d,
         |         nc, nb
         |       FROM cor, bch),
         |h AS (SELECT bench_id, corpus_id,
         |        CAST((CAST(d AS HUGEINT) * d * 1000000) // (CAST(nc AS HUGEINT) * nb) AS BIGINT) AS c2
         |      FROM pr WHERE d > 0)
         |SELECT bench_id, CAST(count(*) AS BIGINT) AS n_contaminated,
         |       CAST(max(c2) AS BIGINT) AS max_cos2_ppm,
         |       min(corpus_id) AS first_corpus_id
         |FROM h WHERE c2 >= 160000 GROUP BY 1""".stripMargin,
      SweepExcluded("corpus×bench pairs ∝ replicas² by construction (both sides grow): sf1 ladder is its decade step")),
    // Verbatim: DuckDB's built-in jaro_winkler_similarity runs the
    // exact SQL text our registered function table runs on Spark.
    QueryDef("q_sql_functions", qSqlFunctions, SqlFunctionsSql),
    QueryDef("q_unicode_norm", qUnicodeNorm, UnicodeNormSql),
    QueryDef("q_heavy_hitters", qHeavyHitters,
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |tok2 AS (SELECT token FROM tok WHERE token <> ''),
        |su AS (SELECT least(greatest(1, (SELECT count(*) FROM documents) // 500), 1024) AS v),
        |t AS (SELECT count(*) AS n FROM tok2)
        |SELECT token, count(*) AS cnt
        |FROM tok2 GROUP BY token
        |HAVING count(*) >= (SELECT t.n // (200 * su.v) + 1 FROM t, su)""".stripMargin),
    QueryDef("q_bm25", qBm25, graft.ops.TextAnalysis.bm25OracleSql(
      "documents", "doc_id", "text", Bm25Terms), HeavyScan),
    QueryDef("q_grouped_heavy", qGroupedHeavy,
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |tok2 AS (SELECT lang, token FROM tok WHERE token <> ''),
        |c AS (SELECT lang, token, count(*) AS cnt FROM tok2 GROUP BY 1, 2),
        |t AS (SELECT lang, count(*) AS n FROM tok2 GROUP BY 1)
        |SELECT c.lang, c.token, c.cnt
        |FROM c JOIN t ON c.lang = t.lang
        |WHERE c.cnt >= t.n // 100 + 1""".stripMargin),
    QueryDef("q_hll_partial", qHllPartial,
      "SELECT count(DISTINCT o_custkey) AS n_exact, true AS within_3pct FROM orders"),
    QueryDef("q_chunk_text", qChunkText, graft.ops.TextAnalysis.chunkTokensOracleSql(
      "documents", "doc_id", "text", chunkTokens = 64, stride = 48), HeavyScan),
    QueryDef("q_key_skew", qKeySkew,
      """WITH c AS (SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM c)
        |SELECT c.key, c.cnt, c.cnt * 1000000 // t.total AS share_ppm, t.n_keys
        |FROM c, t
        |ORDER BY c.cnt DESC, c.key ASC
        |LIMIT 25""".stripMargin),
    QueryDef("q_two_table_link", qTwoTableLink,
      """WITH compared AS (
        |  SELECT CASE WHEN jaro_winkler_similarity(a.c_name, b.s_name) = 1 THEN 'full agreement'
        |              WHEN jaro_winkler_similarity(a.c_name, b.s_name) > 0.9 THEN 'strong partial agreement'
        |              WHEN jaro_winkler_similarity(a.c_name, b.s_name) > 0.85 THEN 'weak partial agreement'
        |              ELSE 'no agreement' END AS name_band,
        |         CASE WHEN abs(a.c_acctbal - b.s_acctbal) < 500.0 THEN 'close'
        |              ELSE 'far' END AS acct_band,
        |         CASE WHEN nullif(a.c_custkey % 10, 0) = nullif(b.s_suppkey % 10, 0) THEN 'agree'
        |              WHEN nullif(a.c_custkey % 10, 0) <> nullif(b.s_suppkey % 10, 0) THEN 'disagree'
        |              END AS key_digit
        |  FROM customer a JOIN supplier b ON a.c_nationkey = b.s_nationkey)
        |SELECT name_band, acct_band, key_digit, count(*) AS n
        |FROM compared GROUP BY name_band, acct_band, key_digit""".stripMargin),
    QueryDef("q_sessionize", qSessionize,
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t_us FROM events),
        |flags AS (
        |  SELECT user_id, t_us,
        |    CASE WHEN lag(t_us) OVER w IS NULL
        |           OR t_us - lag(t_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS sess_start
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_us)),
        |sessions AS (
        |  SELECT user_id, t_us,
        |    CAST(sum(sess_start) OVER (PARTITION BY user_id ORDER BY t_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flags)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(t_us) AS t_start, max(t_us) AS t_end
        |FROM sessions GROUP BY user_id, session_id""".stripMargin),
    QueryDef("q_grouped_topk", qGroupedTopK,
      """SELECT c_mktsegment, c_custkey, c_acctbal, rnk FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |           ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer) WHERE rnk <= 3""".stripMargin),
    QueryDef("q_decontaminate_filter", qDecontaminateFilter,
      s"""WITH bsh AS (
         |  SELECT DISTINCT u.sh
         |  FROM (SELECT list_distinct(${graft.ops.Dedup.shinglesSql("text", 3)}) AS shl
         |        FROM documents WHERE doc_id % 20 = 0) b,
         |       unnest(b.shl) AS u(sh)),
         |csh AS (
         |  SELECT doc_id, u.sh
         |  FROM (SELECT doc_id, list_distinct(${graft.ops.Dedup.shinglesSql("text", 3)}) AS shl
         |        FROM documents
         |        WHERE doc_id % 20 <> 0 AND len(string_split(text, ' ')) >= 3) c,
         |       unnest(c.shl) AS u(sh)),
         |flagged AS (
         |  SELECT doc_id FROM csh JOIN bsh USING (sh)
         |  GROUP BY doc_id HAVING count(*) >= 5)
         |SELECT doc_id, lang FROM documents
         |WHERE doc_id % 20 <> 0
         |  AND doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin),
    // The oracle proves the sketch's 3% accuracy contract, not the
    // sketch bits: n_exact hash-matches, within_3pct must come out
    // true on the Spark side.
    QueryDef("q_approx_distinct", qApproxDistinct,
      """SELECT count(DISTINCT o_custkey) AS n_exact, true AS within_3pct
        |FROM orders""".stripMargin),
    QueryDef("q_approx_quantiles", qApproxQuantiles,
      """SELECT quantile_cont(l_quantity, 0.5) AS p50_exact,
        |       quantile_cont(l_quantity, 0.99) AS p99_exact,
        |       true AS p50_within_1pct_or_unit, true AS p99_within_1pct_or_unit
        |FROM lineitem""".stripMargin),
    QueryDef("q_window_frame", qWindowFrame,
      """SELECT user_id, event_id,
        |       count(*) OVER w AS n_in_frame,
        |       min(value) OVER w AS min_v,
        |       max(value) OVER w AS max_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin),
    QueryDef("q_redact_pii", qRedactPii,
      s"""WITH dirty AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
         |         || ' from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.77'
         |         || ' acct 1234567890' || CAST(doc_id AS VARCHAR) AS text
         |  FROM documents)
         |SELECT doc_id, ${graft.ops.TextAnalysis.redactPiiSql("text")} AS redacted
         |FROM dirty""".stripMargin),
    QueryDef("q_stratified_sample", qStratifiedSample,
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${graft.ops.Sampling.hashBucketSql("doc_id")} <
         |  CASE lang WHEN 'de' THEN 400 WHEN 'en' THEN 100 ELSE 250 END""".stripMargin),
    QueryDef("q_top_ngrams", qTopNgrams,
      s"""SELECT ngram, count(*) AS n
         |FROM (SELECT unnest(${graft.ops.Dedup.shinglesSql("text", 2)}) AS ngram
         |      FROM documents)
         |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin),
    QueryDef("q_semi_join", qSemiJoin,
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin),
    QueryDef("q_line_dedup", qLineDedup,
      """WITH segs AS (
        |  SELECT doc_id,
        |         unnest(string_split(text, ' ')) AS seg,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |), freq AS (
        |  SELECT seg FROM segs WHERE length(seg) >= 1
        |  GROUP BY seg HAVING count(DISTINCT doc_id) >= 300
        |)
        |SELECT s.doc_id,
        |       coalesce(string_agg(CASE WHEN f.seg IS NULL THEN s.seg END,
        |                           ' ' ORDER BY s.pos), '') AS clean_text,
        |       count(f.seg) AS n_removed
        |FROM segs s LEFT JOIN freq f USING (seg)
        |GROUP BY s.doc_id""".stripMargin),
    QueryDef("q_bloom_semi_join", qBloomSemiJoin,
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey
        |                AND o_orderpriority = '1-URGENT')""".stripMargin),
    QueryDef("q_collect_set", qCollectSet,
      """SELECT user_id,
        |       array_to_string(list(DISTINCT event_type ORDER BY event_type), ',')
        |         AS event_types
        |FROM events GROUP BY user_id""".stripMargin),
    QueryDef("q_quality_cutoff", qQualityCutoff,
      """SELECT doc_id, lang, n_chars, pr FROM (
        |  SELECT doc_id, lang, n_chars,
        |         percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
        |  FROM documents)
        |WHERE pr <= 0.5""".stripMargin),
    QueryDef("q_histogram", qHistogram,
      """SELECT CAST(floor(value / 25) AS BIGINT) AS bucket, count(*) AS n,
        |       min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY 1""".stripMargin),
    QueryDef("q_pagerank", qPageRank, pageRankOracle(5)),
    QueryDef("q_ppr", qPpr, pprOracle(5)),
    QueryDef("q_cube", qCube,
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),
    QueryDef("q_bitmap_distinct", qBitmapDistinct,
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_distinct_cust,
        |       count(*) AS n_rows
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q_incremental_dedup", qIncrementalDedup,
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(${graft.ops.Dedup.shinglesSql("text", 3)}) AS shl
         |  FROM documents),
         |shf AS (SELECT * FROM sh WHERE len(shl) > 0),
         |corp AS (SELECT * FROM shf WHERE doc_id % 10 <> 0),
         |newb AS (SELECT * FROM shf WHERE doc_id % 10 = 0),
         |idxc AS (
         |  SELECT doc_id, u.s AS shingle FROM corp, unnest(corp.shl) AS u(s)
         |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 50),
         |idxb AS (SELECT doc_id, u.s AS shingle FROM newb, unnest(newb.shl) AS u(s)),
         |co AS (
         |  SELECT b.doc_id AS new_id, c.doc_id AS corpus_id, count(*) AS inter
         |  FROM idxb b JOIN idxc c ON b.shingle = c.shingle GROUP BY 1, 2),
         |v AS (
         |  SELECT co.new_id, co.corpus_id, co.inter,
         |         CAST(len(nb.shl) AS BIGINT) AS size_new,
         |         CAST(len(cp.shl) AS BIGINT) AS size_corpus
         |  FROM co JOIN newb nb ON co.new_id = nb.doc_id
         |          JOIN corp cp ON co.corpus_id = cp.doc_id)
         |SELECT new_id, corpus_id, inter, size_new, size_corpus,
         |  CAST(inter AS DOUBLE) / (size_new + size_corpus - inter) AS jaccard
         |FROM v
         |WHERE CAST(inter AS DOUBLE) / (size_new + size_corpus - inter) >= 0.5""".stripMargin),
    QueryDef("q_transitions", qTransitions,
      """WITH seq AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        |FROM seq WHERE next_type IS NOT NULL
        |GROUP BY event_type, next_type""".stripMargin),
    QueryDef("q_overlap_join", qOverlapJoin,
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS t,
        |         epoch_ns(ts) + CAST(floor(value * 60000000000.0) AS BIGINT) AS te
        |  FROM events)
        |SELECT l.user_id AS user_id, l.event_id AS l_event, r.event_id AS r_event
        |FROM (SELECT * FROM e WHERE event_type = 'view') l
        |JOIN (SELECT * FROM e WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.t <= r.te AND r.t <= l.te""".stripMargin,
      HeavyScanAdjudicated("sequence builds the interval cover-grid keys feeding " +
        "the equi-join's exchange — join-bound by construction")),
    QueryDef("q_triangles", qTriangles,
      """WITH e AS (
        |  SELECT DISTINCT least(o_orderkey % 1500, o_custkey % 1500) AS a,
        |                  greatest(o_orderkey % 1500, o_custkey % 1500) AS b
        |  FROM orders WHERE (o_orderkey % 1500) <> (o_custkey % 1500))
        |SELECT count(*) AS n_triangles
        |FROM e x JOIN e y ON x.b = y.a JOIN e z ON z.a = x.a AND z.b = y.b""".stripMargin),
    QueryDef("q_split", qSplit,
      """SELECT lang,
        |  CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'valid' ELSE 'test' END AS split,
        |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM (SELECT lang, n_chars,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS b
        |      FROM documents)
        |GROUP BY lang, split""".stripMargin),
    QueryDef("q_data_mix", qDataMix,
      """SELECT doc_id, lang, unnest(generate_series(1, w)) AS rep
        |FROM (SELECT doc_id, lang,
        |        CASE WHEN lang = 'en' THEN 1
        |             WHEN lang IN ('es', 'de') THEN 2
        |             ELSE 3 END AS w
        |      FROM documents)""".stripMargin,
      HeavyScanAdjudicated("repeatByWeight's sequence(1,w<=3) duplicates rows into " +
        "row-level output — no shuffle, no per-row compute beyond the copy")),
    QueryDef("q_upsert", qUpsert,
      """WITH merged AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority, o_totalprice + 1000
        |  FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders),
        |         o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 101 = 0)
        |SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_floor_price,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM merged GROUP BY o_orderpriority""".stripMargin),
    QueryDef("q_edit_distance", qEditDistance,
      """WITH names AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |       levenshtein(a.p_name, b.p_name) AS dist
        |FROM names a JOIN names b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin),
    QueryDef("q_funnel", qFunnel,
      """WITH s0 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t
        |       WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT 'view' AS stage, 0 AS stage_idx, (SELECT count(*) FROM s0) AS n_users
        |UNION ALL SELECT 'click', 1, (SELECT count(*) FROM s1)
        |UNION ALL SELECT 'purchase', 2, (SELECT count(*) FROM s2)""".stripMargin),
    QueryDef("q_json_extract", qJsonExtract,
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin),
    QueryDef("q_pivot_wider", qPivotWider,
      """SELECT user_id,
        |       count(*) FILTER (WHERE event_type = 'click')    AS n_click,
        |       count(*) FILTER (WHERE event_type = 'error')    AS n_error,
        |       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |       count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
        |       count(*) FILTER (WHERE event_type = 'view')     AS n_view
        |FROM events GROUP BY user_id""".stripMargin),
    QueryDef("q_schema_evolution", qSchemaEvolution,
      """SELECT count(*) AS n,
        |       count(CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_lang,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin),
    QueryDef("q_compact", qCompact,
      """SELECT count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin),
    QueryDef("q_pack_chunks", qPackChunks,
      """WITH toks AS (
        |  SELECT lang, doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), cum AS (
        |  SELECT lang, doc_id, n_tokens,
        |         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |           - n_tokens AS s_before
        |  FROM toks
        |)
        |SELECT lang, doc_id, n_tokens,
        |       s_before // 512 AS chunk,
        |       s_before % 512 AS chunk_offset
        |FROM cum""".stripMargin),
    QueryDef("q_winnow", qWinnow,
      s"""WITH ${graft.ops.TextAnalysis.winnowFingerprintsSqlCtes(
              "documents", "doc_id", "text", WinnowK, WinnowW)},
         |capped AS (
         |  SELECT doc_id, fp FROM winnow_fp
         |  QUALIFY count(*) OVER (PARTITION BY fp) <= $WinnowCap)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         |FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared""".stripMargin, HeavyScan,
      SweepExcluded("already at TRUE sf10 in SCALE_PROBE_r14 (30.0 s)")),
    QueryDef("q_span_dedup", qSpanDedup, graft.ops.Dedup.removeDuplicatedSpansSql(
      "documents", "doc_id", "text", k = 5)),
    QueryDef("q_span_exact", qSpanExact, graft.ops.Dedup.duplicatedSpanRunsSql(
      "documents", "doc_id", "text", k = 5)),
    QueryDef("q_span_bytes", qSpanBytes, graft.ops.Dedup.duplicatedByteSpanRunsSql(
      "documents", "doc_id", "text", k = 50), HeavyScan),
    QueryDef("q_semantic_dedup", qSemanticDedup,
      s"""WITH RECURSIVE cent AS (
         |  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |assign AS (
         |  SELECT e.vec_id AS id, e.embedding AS ev, c.cid
         |  FROM embeddings e, cent c
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${graft.ops.Similarity.cosineSql("e.embedding", "c.cv", EmbDim)} DESC, c.cid) = 1),
         |p AS (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |         round(${graft.ops.Similarity.cosineSql("a.ev", "b.ev", EmbDim)}, 6) AS cosine
         |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.id < b.id),
         |pairs AS (SELECT id_a, id_b FROM p WHERE cosine >= 0.4),
         |edges AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT vec_id AS id, vec_id AS r FROM embeddings
         |  UNION
         |  SELECT e.b AS id, reach.r FROM reach JOIN edges e ON reach.id = e.a)
         |SELECT id AS vec_id, min(r) AS cluster_id, (min(r) = id) AS keep
         |FROM reach GROUP BY id""".stripMargin),
    QueryDef("q_grouping_sets", qGroupingSets,
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |       count(*) AS n,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin),
    QueryDef("q_rank_functions", qRankFunctions,
      """SELECT c_nationkey, c_custkey,
        |       dense_rank() OVER w AS drank,
        |       CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS prank_ppm,
        |       CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cdist_ppm,
        |       ntile(4) OVER w AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)""".stripMargin),
    QueryDef("q_csv_roundtrip", qCsvRoundtrip,
      """WITH tricky AS (
        |  SELECT c_custkey,
        |         c_name || ', segment="' || c_mktsegment || '"' AS c_desc,
        |         c_acctbal
        |  FROM customer)
        |SELECT count(*) AS n,
        |       CAST(sum(length(c_desc)) AS BIGINT) AS sum_desc_len,
        |       min(c_desc) AS min_desc,
        |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_bal_cents
        |FROM tricky""".stripMargin),
    QueryDef("q_label_prop", qLabelProp, lpaOracle(4)),
    // HUGEINT throughout (sums of BIGINT promote; products stay int128,
    // max ≈ 1.7e38 > the n·SS ≈ 3e24 ceiling here) ≡ Spark decimal(38,0).
    QueryDef("q_outliers", qOutliers,
      """WITH v AS (
        |  SELECT o_orderkey, o_orderpriority,
        |         CAST(round(o_totalprice * 100) AS BIGINT) *
        |           (CASE WHEN o_orderkey % 37 = 0 THEN 50 ELSE 1 END) AS price_cents
        |  FROM orders),
        |st AS (
        |  SELECT o_orderpriority, count(*) AS n, sum(price_cents) AS s,
        |         sum(CAST(price_cents AS HUGEINT) * price_cents) AS ss
        |  FROM v GROUP BY 1)
        |SELECT v.o_orderkey, v.o_orderpriority, v.price_cents,
        |       CAST(st.n AS BIGINT) AS n, CAST(st.s AS BIGINT) AS s
        |FROM v JOIN st USING (o_orderpriority)
        |WHERE (CAST(v.price_cents AS HUGEINT) * st.n - st.s) *
        |      (CAST(v.price_cents AS HUGEINT) * st.n - st.s) * 1 >
        |      4 * (st.n * st.ss - CAST(st.s AS HUGEINT) * st.s)""".stripMargin),
    QueryDef("q_url_normalize", qUrlNormalize,
      s"""WITH raw AS (
         |  SELECT CASE c_custkey % 5
         |    WHEN 0 THEN 'HTTPS://Shop.Example.COM:443/items/' || CAST(c_custkey % 97 AS VARCHAR) || '/?utm_source=x&b=2&a=1'
         |    WHEN 1 THEN 'https://shop.example.com/items/' || CAST(c_custkey % 97 AS VARCHAR) || '?a=1&b=2'
         |    WHEN 2 THEN 'https://www.shop.example.com/items/' || CAST(c_custkey % 97 AS VARCHAR) || '#frag'
         |    WHEN 3 THEN 'http://Blog.example.com:80/posts/' || CAST(c_custkey % 47 AS VARCHAR) || '/?fbclid=zz&z=9&y=8'
         |    ELSE 'not a url ' || CAST(c_custkey AS VARCHAR) END AS url
         |  FROM customer)
         |SELECT ${graft.ops.Urls.canonicalizeUrlSql("url")} AS canonical_url,
         |       count(*) AS n_fetches
         |FROM raw GROUP BY 1""".stripMargin),
    QueryDef("q_weighted_sample", qWeightedSample,
      s"""WITH v AS (
         |  SELECT c_custkey, c_mktsegment,
         |         greatest(1, CAST(round(c_acctbal * 100) AS BIGINT)) AS w_cents
         |  FROM customer),
         |p AS (
         |  SELECT c_custkey, c_mktsegment, w_cents,
         |         ${graft.ops.Sampling.prioritySql("c_custkey", "w_cents")} AS priority
         |  FROM v)
         |SELECT c_custkey, c_mktsegment, w_cents, priority FROM p
         |QUALIFY row_number() OVER (PARTITION BY c_mktsegment
         |  ORDER BY priority, c_custkey) <= 20""".stripMargin),
    QueryDef("q_col_profile", qColProfile,
      s"""WITH v AS (
         |  SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS o_date,
         |         CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderpriority END AS prio
         |  FROM orders)
         |${graft.ops.Profiling.tableProfileSql("v", Seq("o_custkey", "o_orderstatus", "o_date", "prio"))}""".stripMargin),
    QueryDef("q_bfs", qBfs, bfsOracle(4)),
    QueryDef("q_soundex", qSoundex,
      s"""WITH w0 AS (
         |  SELECT unnest(string_split(p_name, ' ')) AS w FROM part
         |  UNION ALL SELECT n_name FROM nation
         |  UNION ALL SELECT r_name FROM region
         |  UNION ALL SELECT c_mktsegment FROM customer),
         |w AS (SELECT DISTINCT w FROM w0)
         |SELECT ${graft.ops.Phonetic.soundexSql("w")} AS code,
         |       count(*) AS n_words, min(w) AS example_min, max(w) AS example_max
         |FROM w GROUP BY 1""".stripMargin),
    // HUGEINT ≡ decimal(38,0); `//` and `div` both truncate toward zero
    // (probed on negatives), and date-minus-date is exact integer days.
    QueryDef("q_trend", qTrend,
      """WITH v AS (
        |  SELECT o_orderpriority,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS x,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders),
        |st AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM v GROUP BY 1)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
        |       CAST((1000000 * (n * sxy - sx * sy)) // NULLIF(n * sxx - sx * sx, 0) AS BIGINT)
        |         AS slope_ppm
        |FROM st""".stripMargin),
    QueryDef("q_quarantine", qQuarantine,
      s"""WITH v AS (
         |  SELECT o_orderkey,
         |         ${graft.ops.Contracts.violationsSql(Seq(
               "price_cap" -> "o_totalprice < 300000.0",
               "status_closed" -> "o_orderstatus IN ('O', 'F')",
               "priority_format" -> "regexp_matches(o_orderpriority, '^[1-5]-')",
               "custkey_mod_check" -> "(CASE WHEN o_custkey % 10 = 0 THEN NULL ELSE o_custkey END) > 0"))}
         |           AS violated_rules
         |  FROM orders)
         |SELECT violated_rules, count(*) AS n,
         |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM v WHERE violated_rules <> '' GROUP BY 1""".stripMargin),
    QueryDef("q_dense_ids", qDenseIds,
      """SELECT c_custkey, c_mktsegment,
        |       row_number() OVER (ORDER BY c_custkey) AS row_id
        |FROM customer""".stripMargin),
    // arg_max(status, orderkey) ≡ Spark's max(struct(orderkey, status))
    // when the key is unique within the group.
    QueryDef("q_scd2", qScd2,
      """WITH v AS (
        |  SELECT o_custkey,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |         o_orderkey, o_orderstatus
        |  FROM orders),
        |log AS (
        |  SELECT o_custkey, day, arg_max(o_orderstatus, o_orderkey) AS status
        |  FROM v GROUP BY 1, 2)
        |SELECT o_custkey, day, status, day AS valid_from,
        |       lead(day) OVER (PARTITION BY o_custkey ORDER BY day) AS valid_to
        |FROM log""".stripMargin),
    QueryDef("q_snapshot_diff", qSnapshotDiff, {
      val d = graft.etl.Etl.rowDigestSql(Seq("text", "source"))
      s"""WITH v2 AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 17 = 0 THEN text || ' EDIT' ELSE text END AS text,
         |         source
         |  FROM documents WHERE doc_id % 13 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000000, text, source FROM documents WHERE doc_id % 19 = 0),
         |o AS (SELECT doc_id, $d AS dg FROM documents),
         |n AS (SELECT doc_id, $d AS dg FROM v2),
         |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |             CASE WHEN o.dg IS NULL THEN 'added'
         |                  WHEN n.dg IS NULL THEN 'removed'
         |                  WHEN o.dg = n.dg THEN 'same' ELSE 'changed' END AS status
         |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT status, count(*) AS n, min(doc_id) AS min_key, max(doc_id) AS max_key
         |FROM j GROUP BY 1""".stripMargin
    }),
    QueryDef("q_vocab", qVocab,
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS cnt FROM tk WHERE tok <> '' GROUP BY 1
        |      HAVING count(*) >= 5)
        |SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS token_id
        |FROM c""".stripMargin),
    // the naive theta-join IS the spec; the Spark side must match it
    // through the binned equi-join exactly
    QueryDef("q_range_lookup", qRangeLookup,
      """WITH br(bracket, lo, hi) AS (VALUES
        |  ('low', 0, 10000000), ('mid', 5000000, 30000000),
        |  ('high', 20000000, 60000000), ('vip', 45000000, 100000000)),
        |p AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        |      FROM orders)
        |SELECT bracket, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM p JOIN br ON p.cents BETWEEN br.lo AND br.hi
        |GROUP BY 1""".stripMargin),
    QueryDef("q_resample", qResample,
      """WITH obs AS (
        |  SELECT user_id, epoch_us(ts) AS t, arg_max(value, event_id) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |span AS (SELECT user_id, min(t) AS lo, max(t) AS hi FROM obs GROUP BY 1),
        |grid AS (
        |  SELECT user_id, g * 86400000000 AS t, CAST(NULL AS DOUBLE) AS v, 0 AS is_obs
        |  FROM (SELECT user_id,
        |               unnest(generate_series((lo + 86400000000 - 1) // 86400000000,
        |                                      hi // 86400000000)) AS g
        |        FROM span)),
        |u AS (SELECT user_id, t, v, 1 AS is_obs FROM obs UNION ALL SELECT * FROM grid),
        |f AS (
        |  SELECT user_id, t, is_obs,
        |         last_value(v IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY t, is_obs DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
        |  FROM u)
        |SELECT user_id, t AS sample_ts, v AS value FROM f WHERE is_obs = 0""".stripMargin),
    // recomputes the decoded stats from the closed-form PCM formula:
    // equality proves the WAV encode → decode roundtrip bit-exact
    QueryDef("q_audio_stats", qAudioStats,
      """WITH s AS (
        |  SELECT doc_id, ((doc_id * 2654435761 + i * 40503) % 65536 - 32768) AS v
        |  FROM (SELECT doc_id, unnest(generate_series(0, 39 + doc_id % 25)) AS i
        |        FROM documents WHERE doc_id % 7 = 0))
        |SELECT doc_id,
        |       CAST(44 + 2 * (40 + doc_id % 25) AS BIGINT) AS byte_len,
        |       CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
        |       count(*) AS n_samples,
        |       CAST(sum(v * v) AS BIGINT) AS sum_sq,
        |       CAST(max(abs(v)) AS BIGINT) AS peak
        |FROM s GROUP BY 1""".stripMargin),
    QueryDef("q_lm_score", qLmScore,
      """WITH ref AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id % 10 < 8),
        |vocab AS (SELECT tok, count(*) AS cnt FROM ref WHERE tok <> '' GROUP BY 1),
        |st AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS v FROM vocab),
        |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |j AS (
        |  SELECT t.doc_id,
        |         CAST(floor(ln(CAST(coalesce(vb.cnt, 0) + 1 AS DOUBLE) /
        |           CAST(st.total + st.v AS DOUBLE)) * 1000000) AS BIGINT) AS unat
        |  FROM tk t LEFT JOIN vocab vb USING (tok), st WHERE t.tok <> '')
        |SELECT doc_id, count(*) AS n_tokens, CAST(sum(unat) AS BIGINT) AS logprob_unat
        |FROM j GROUP BY 1""".stripMargin),
    QueryDef("q_strip_html", qStripHtml, {
      val html = s"concat('$HtmlPre', CAST(doc_id AS VARCHAR), " +
        s"'$HtmlMid', text, '$HtmlPost')"
      s"""WITH c AS (
         |  SELECT doc_id, ${graft.ops.TextAnalysis.stripHtmlSql(html)} AS clean
         |  FROM documents)
         |SELECT doc_id, md5(clean) AS digest,
         |  CAST(length(clean) AS BIGINT) AS n_chars_clean,
         |  substr(clean, 1, 40) AS head40
         |FROM c""".stripMargin
    }),
    QueryDef("q_semdedup_keeper", qSemdedupKeeper,
      s"""WITH base AS (
         |  SELECT vec_id AS id,
         |    ${graft.ops.Similarity.lshBucketSql("embedding", EmbDim, 4)} AS cl,
         |    embedding AS v
         |  FROM embeddings),
         |${graft.ops.Similarity.clusterKeeperSql(EmbDim)}""".stripMargin),
    QueryDef("q_quantize_int8", qQuantizeInt8,
      graft.ops.Similarity.quantizeInt8Sql("embeddings", "vec_id", "embedding", EmbDim)),
    QueryDef("q_kcore", qKcore,
      s"""WITH e0 AS (SELECT DISTINCT l_orderkey AS a, -l_suppkey AS b
         |            FROM lineitem WHERE l_quantity >= 45),
         |sym AS (SELECT a AS src, b AS dst FROM e0 UNION SELECT b, a FROM e0),
         |${graft.ops.Graphs.kCoreSql(3, 8)}""".stripMargin),
    QueryDef("q_entropy", qEntropy,
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (
        |  SELECT doc_id, tok, count(*) AS c FROM tk WHERE tok <> '' GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |  CAST(sum(CAST(floor(ln(CAST(c AS DOUBLE)) * c * 1000000) AS BIGINT)) AS BIGINT)
        |    AS clogc_unat
        |FROM tc GROUP BY 1""".stripMargin),
    QueryDef("q_freq_weight", qFreqWeight,
      """WITH freq AS (
        |  SELECT c_mktsegment AS val, count(*) AS cnt FROM customer GROUP BY 1),
        |st AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM freq),
        |c AS (
        |  SELECT c_custkey, CAST(floor(c_acctbal / 100) AS BIGINT) AS blk,
        |         c_mktsegment AS seg
        |  FROM customer),
        |p AS (
        |  SELECT a.seg AS sl, b.seg AS sr
        |  FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey),
        |w AS (
        |  SELECT CASE WHEN sl = sr THEN sl END AS segment,
        |    CASE WHEN sl IS NULL OR sr IS NULL THEN NULL
        |         WHEN sl <> sr THEN 0
        |         ELSE CAST(floor(ln(CAST(st.n AS DOUBLE) / f.cnt) * 1000000) AS BIGINT)
        |         END AS fw_unat
        |  FROM p CROSS JOIN st
        |  LEFT JOIN freq f ON (CASE WHEN sl = sr THEN sl END) = f.val)
        |SELECT segment, fw_unat, count(*) AS n_pairs FROM w GROUP BY 1, 2""".stripMargin,
      SweepExcluded("acctbal key fixed ~110-value cardinality → pairs ∝ replicas² by construction: sf1 ladder is its decade step")),
    QueryDef("q_apportion", qApportion,
      s"""WITH tok AS (
         |  SELECT source, len(string_split(text, ' ')) AS tokens FROM documents),
         |${graft.ops.Sampling.apportionTokensSql(1000000L)}""".stripMargin),
    QueryDef("q_blocking_metrics", qBlockingMetrics,
      s"""WITH c AS (
         |  SELECT c_custkey, c_acctbal,
         |    ${graft.ops.Sampling.hashBucketSql("c_custkey")} AS hb
         |  FROM customer),
         |a AS (SELECT c_custkey AS id_left,
         |        CAST(floor(c_acctbal / 100) AS BIGINT) AS blk FROM c),
         |b AS (SELECT c_custkey AS id_right,
         |        CAST(floor((c_acctbal + CASE WHEN hb < 300 THEN 150.0 ELSE 0.0 END) / 100)
         |          AS BIGINT) AS blk FROM c),
         |cand AS (SELECT id_left, id_right FROM a JOIN b USING (blk)),
         |n AS (SELECT count(*) AS na FROM c),
         |cc AS (SELECT count(*) AS n_cand FROM cand),
         |hit AS (SELECT count(*) AS n_hits FROM cand WHERE id_left = id_right)
         |SELECT cc.n_cand, n.na AS n_truth, hit.n_hits,
         |  n.na * n.na AS pairs_total,
         |  1.0 - CAST(cc.n_cand AS DOUBLE) / (n.na * n.na) AS reduction_ratio,
         |  CAST(hit.n_hits AS DOUBLE) / n.na AS pairs_completeness
         |FROM cc, n, hit""".stripMargin,
      SweepExcluded("same pair table as q_block_equi (pairs ∝ replicas²): covered by the 2B rung")),
    // l_quantity is a DOUBLE holding exact TPC-H integers (1..50), so the
    // BIGINT cast agrees on both engines; parallel edges collapse to
    // min(w) BEFORE relaxation, exactly as the operator does.
    QueryDef("q_sssp", qSssp,
      s"""WITH e0 AS (SELECT l_orderkey AS a, -l_suppkey AS b,
         |              CAST(l_quantity AS BIGINT) AS w FROM lineitem),
         |eall AS (SELECT a AS src, b AS dst, w FROM e0
         |         UNION ALL SELECT b, a, w FROM e0),
         |edges AS (SELECT src, dst, min(w) AS w FROM eall GROUP BY src, dst),
         |d0 AS (SELECT DISTINCT -s_suppkey AS id, CAST(0 AS BIGINT) AS dist
         |       FROM supplier WHERE s_suppkey <= 5),
         |${graft.ops.Graphs.shortestPathsSql(4)}""".stripMargin),
    QueryDef("q_retention", qRetention,
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS p FROM events),
        |f AS (SELECT user_id, min(p) AS cohort FROM e GROUP BY 1),
        |d AS (SELECT DISTINCT e.user_id, f.cohort, e.p - f.cohort AS "offset"
        |      FROM e JOIN f ON e.user_id = f.user_id)
        |SELECT cohort, "offset", count(*) AS n_users
        |FROM d GROUP BY 1, 2""".stripMargin),
    QueryDef("q_range_frame", qRangeFrame,
      """SELECT user_id, event_id, epoch_us(ts) AS t_us,
        |  count(*) OVER w AS n_trailing,
        |  CAST(sum(CAST(floor(value * 1000000.0) AS BIGINT)) OVER w AS BIGINT)
        |    AS sum_v_micro
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin),
    QueryDef("q_percentiles", qPercentiles,
      s"""WITH v AS (SELECT o_orderpriority,
         |             CAST(floor(o_totalprice * 100) AS BIGINT) AS val
         |           FROM orders),
         |${graft.ops.Profiling.exactPercentilesSql(
               Seq("o_orderpriority"), Seq(10, 25, 50, 75, 90, 99))}""".stripMargin),
    QueryDef("q_interleave", qInterleave,
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w,
         |    row_number() OVER (PARTITION BY source
         |                       ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rank_in_source
         |  FROM documents)
         |SELECT doc_id, source, CAST(rank_in_source AS BIGINT) AS rank_in_source,
         |  CAST(${graft.ops.Sampling.interleavePosSql(1000000L)} AS BIGINT) AS pos
         |FROM d""".stripMargin),
    // OOV id 0; token order carried through the ORDER BY pos list, so
    // the digest is transposition-sensitive like the Spark side's.
    QueryDef("q_encode", qEncode,
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS cnt FROM tk WHERE tok <> '' GROUP BY 1
        |      HAVING count(*) >= 5),
        |v AS (SELECT tok, row_number() OVER (ORDER BY cnt DESC, tok) AS token_id
        |      FROM c),
        |d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |             len(string_split(text, ' ')) AS n FROM documents),
        |pos AS (
        |  SELECT doc_id, k AS pos, toks[k + 1] AS tok
        |  FROM d, UNNEST(range(0, n)) AS t(k)
        |  WHERE toks[k + 1] <> ''),
        |enc AS (
        |  SELECT p.doc_id, p.pos, COALESCE(v.token_id, 0) AS tid
        |  FROM pos p LEFT JOIN v ON p.tok = v.tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  md5(array_to_string(list(CAST(tid AS VARCHAR) ORDER BY pos), ','))
        |    AS ids_digest
        |FROM enc GROUP BY doc_id""".stripMargin),
    QueryDef("q_copurchase", qCopurchase,
      """WITH e AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |           FROM lineitem),
        |deg AS (SELECT basket, count(*) AS d FROM e GROUP BY 1),
        |k AS (SELECT e.basket, e.item FROM e JOIN deg USING (basket)
        |      WHERE deg.d <= 50)
        |SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_shared
        |FROM k a JOIN k b ON a.basket = b.basket AND a.item < b.item
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
    // files_disjoint / files_le_requested are computed from the REAL
    // file envelopes on the Spark side; the oracle pins the expected
    // healthy-layout constants plus the exact source totals.
    QueryDef("q_file_stats", qFileStats,
      """SELECT count(*) AS n_rows, min(l_orderkey) AS min_key,
        |  max(l_orderkey) AS max_key, 1 AS files_disjoint,
        |  1 AS files_le_requested
        |FROM lineitem""".stripMargin),
    QueryDef("q_wau", qWau,
      """WITH act AS (SELECT DISTINCT user_id AS e,
        |               epoch_us(ts) // 86400000000 AS p FROM events),
        |w AS (SELECT e, p + k AS period FROM act, UNNEST(range(0, 7)) AS t(k))
        |SELECT period, count(DISTINCT e) AS n_active
        |FROM w GROUP BY 1""".stripMargin),
    // every event lands in exactly w/h = 4 hop-aligned windows:
    // s_k = (t div h - k)·h for k in 0..3 — s_k ≤ t < s_k + w always.
    QueryDef("q_hopping_window", qHoppingWindow,
      """WITH e AS (SELECT event_type, epoch_us(ts) AS t FROM events),
        |w AS (SELECT event_type, ((t // 900000000) - k) * 900000000 AS ws
        |      FROM e, UNNEST(range(0, 4)) AS u(k))
        |SELECT make_timestamp(ws) AS window_start, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2""".stripMargin),
    QueryDef("q_pop", qPop,
      """WITH m AS (
        |  SELECT c_mktsegment, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |lg AS (
        |  SELECT c_mktsegment, month, rev_cents,
        |    lag(rev_cents) OVER (PARTITION BY c_mktsegment ORDER BY month) AS prev_cents
        |  FROM m)
        |SELECT c_mktsegment, month, rev_cents, prev_cents,
        |  CASE WHEN prev_cents IS NOT NULL AND prev_cents <> 0
        |       THEN ((rev_cents - prev_cents) * 1000000) // prev_cents
        |       ELSE NULL END AS delta_ppm
        |FROM lg""".stripMargin),
    QueryDef("q_tpch_q3", qTpchQ3,
      """WITH l AS (
        |  SELECT l_orderkey,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) *
        |    (1000000 - CAST(floor(l_discount * 1000000) AS BIGINT)) AS rev
        |  FROM lineitem WHERE l_shipdate > DATE '1995-03-15'),
        |o AS (
        |  SELECT o_orderkey, o_orderdate, o_orderpriority
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1995-03-15')
        |SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
        |       CAST(sum(l.rev) AS BIGINT) AS revenue_micro_cents
        |FROM l JOIN o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2, 3
        |ORDER BY revenue_micro_cents DESC, l.l_orderkey ASC
        |LIMIT 10""".stripMargin),
    // p50 rank = (n-1)//2 + 1, twice: once on values, once on the
    // absolute deviations from the group median.
    QueryDef("q_mad", qMad,
      """WITH v AS (SELECT o_orderpriority AS g,
        |             CAST(floor(o_totalprice * 100) AS BIGINT) AS val
        |           FROM orders),
        |rk1 AS (SELECT g, val,
        |          row_number() OVER (PARTITION BY g ORDER BY val) AS rk,
        |          count(*) OVER (PARTITION BY g) AS n FROM v),
        |med AS (SELECT g, val AS med FROM rk1 WHERE rk = (n - 1) // 2 + 1),
        |d AS (SELECT v.g, med.med, abs(v.val - med.med) AS dv
        |      FROM v JOIN med USING (g)),
        |rk2 AS (SELECT g, med, dv,
        |          row_number() OVER (PARTITION BY g ORDER BY dv) AS rk,
        |          count(*) OVER (PARTITION BY g) AS n FROM d)
        |SELECT g AS o_orderpriority, med AS median, dv AS mad
        |FROM rk2 WHERE rk = (n - 1) // 2 + 1""".stripMargin),
    QueryDef("q_date_functions", qDateFunctions,
      """SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        |  month(o_orderdate) AS m, isodow(o_orderdate) AS iso_dow,
        |  datediff('day', DATE '1992-01-01', o_orderdate) AS days_since,
        |  last_day(o_orderdate) AS month_end, count(*) AS n
        |FROM orders GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin),
    // Bigrams via aligned list slices; empty tokens dropped BEFORE
    // pairing on both engines. PMI = ln(n_pair·N/(c_a·c_b)) floored
    // to micro-nats — one fixed-order IEEE log, hash-exact.
    QueryDef("q_pmi", qPmi,
      """WITH d AS (
        |  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |uni AS (
        |  SELECT u.tok, count(*) AS c
        |  FROM d, unnest(ts) AS u(tok) GROUP BY 1),
        |big AS (
        |  SELECT ts[k] AS tok_a, ts[k + 1] AS tok_b, count(*) AS n_pair
        |  FROM d, UNNEST(range(1, len(ts))) AS t(k)
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM uni)
        |SELECT b.tok_a, b.tok_b, b.n_pair,
        |  CAST(floor(ln(CAST(b.n_pair * n.total AS DOUBLE) /
        |                 CAST(ca.c * cb.c AS DOUBLE)) * 1000000) AS BIGINT)
        |    AS pmi_unat
        |FROM big b
        |JOIN uni ca ON b.tok_a = ca.tok
        |JOIN uni cb ON b.tok_b = cb.tok, n""".stripMargin),
    // Same fixed-round integer update as the operator, one CTE chain
    // per round (the pageRankOracle pattern); `//` ≡ `div` on these
    // non-negative operands, HUGEINT ≡ decimal(38,0).
    QueryDef("q_hits", qHits,
      s"""WITH edges AS (
         |  SELECT DISTINCT o_custkey AS src, -o_orderkey AS dst FROM orders),
         |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |tgt AS (SELECT count(*) * 1000000 AS target FROM nodes),
         |s0 AS (SELECT id, CAST(1000000 AS BIGINT) AS auth,
         |              CAST(1000000 AS BIGINT) AS hub FROM nodes),
         |${graft.ops.Graphs.hitsSql(3)}""".stripMargin),
    // Islands trick: period − row_number is constant exactly within a
    // consecutive run. Spark's longest-streak struct-max ≡ the QUALIFY
    // row_number argmax (len DESC, end DESC — max_by can't take
    // composite ordering).
    QueryDef("q_streaks", qStreaks,
      """WITH a AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS p FROM events),
        |i AS (
        |  SELECT user_id, p,
        |         p - row_number() OVER (PARTITION BY user_id ORDER BY p) AS isl
        |  FROM a),
        |g AS (SELECT user_id, isl, count(*) AS len, max(p) AS e
        |      FROM i GROUP BY 1, 2),
        |best AS (
        |  SELECT user_id, len AS longest_streak, e AS longest_end,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY len DESC, e DESC) AS rn
        |  FROM g),
        |tot AS (
        |  SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_periods,
        |         count(*) AS n_streaks
        |  FROM g GROUP BY 1)
        |SELECT t.user_id, t.n_active_periods, t.n_streaks,
        |       b.longest_streak, b.longest_end
        |FROM tot t JOIN best b ON t.user_id = b.user_id AND b.rn = 1""".stripMargin),
    // The canonical fetch log through the shared prefix/list program.
    QueryDef("q_path_rollup", qPathRollup,
      s"""WITH raw AS (
         |  SELECT CASE c_custkey % 5
         |    WHEN 0 THEN 'HTTPS://Shop.Example.COM:443/items/' || CAST(c_custkey % 97 AS VARCHAR) || '/?utm_source=x&b=2&a=1'
         |    WHEN 1 THEN 'https://shop.example.com/items/' || CAST(c_custkey % 97 AS VARCHAR) || '?a=1&b=2'
         |    WHEN 2 THEN 'https://www.shop.example.com/items/' || CAST(c_custkey % 97 AS VARCHAR) || '#frag'
         |    WHEN 3 THEN 'http://Blog.example.com:80/posts/' || CAST(c_custkey % 47 AS VARCHAR) || '/?fbclid=zz&z=9&y=8'
         |    ELSE 'not a url ' || CAST(c_custkey AS VARCHAR) END AS url
         |  FROM customer),
         |c AS (
         |  SELECT u FROM (
         |    SELECT ${graft.ops.Urls.canonicalizeUrlSql("url")} AS u FROM raw)
         |  WHERE u IS NOT NULL),
         |${graft.ops.Urls.pathPrefixCountsSql(2)}""".stripMargin,
      HeavyScanAdjudicated("<=2-prefix sequence explode into the rollup hash agg; " +
        "canonicalization is one codegen regex pass — agg-shuffle-bound")),
    // Integer centi-nat weights keep every aggregate under 2^53, so
    // the dot/norm doubles are exact and even the cosine hash-matches.
    QueryDef("q_tfidf_cosine", qTfidfCosine,
      s"""WITH ${minhashCandCtes(8, 4, Some(LshCap))},
         |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf
         |       FROM tk WHERE term <> '' GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
         |nn AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
         |wt AS (
         |  SELECT tf.doc_id, tf.term,
         |    tf.tf * CAST(floor(ln(CAST(nn.n AS DOUBLE) / CAST(dfq.dfc AS DOUBLE))
         |      * 100) AS BIGINT) AS w
         |  FROM tf JOIN dfq USING (term), nn),
         |wp AS (SELECT * FROM wt WHERE w > 0),
         |nr AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2 FROM wp GROUP BY 1),
         |dt AS (
         |  SELECT c.id_a, c.id_b, sum(CAST(a.w AS HUGEINT) * b.w) AS dot,
         |         count(*) AS n_shared_terms
         |  FROM cand c
         |  JOIN wp a ON c.id_a = a.doc_id
         |  JOIN wp b ON c.id_b = b.doc_id AND a.term = b.term
         |  GROUP BY 1, 2)
         |SELECT dt.id_a, dt.id_b, dt.n_shared_terms,
         |  CAST(floor(CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |    * 1000000) AS BIGINT) AS cosine_ppm
         |FROM dt
         |JOIN nr na ON dt.id_a = na.doc_id
         |JOIN nr nb ON dt.id_b = nb.doc_id""".stripMargin),
    // Lag-change flag + cumsum episode numbering, (time, state) total
    // order — the sessionize mirror shape on VALUE changes.
    QueryDef("q_state_runs", qStateRuns,
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_type AS s FROM events),
        |f AS (
        |  SELECT user_id, t, s,
        |    CASE WHEN lag(s) OVER w IS NULL OR lag(s) OVER w <> s
        |         THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, s)),
        |g AS (
        |  SELECT user_id, t, s,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY t, s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ep
        |  FROM f)
        |SELECT user_id, CAST(ep AS BIGINT) AS episode, min(s) AS state,
        |       min(t) AS t_start, max(t) AS t_end, count(*) AS n_events
        |FROM g GROUP BY 1, 2""".stripMargin),
    // The q_assoc_rules pipeline cut per antecedent by the same total
    // (lift DESC, conf DESC, item) order.
    QueryDef("q_recs", qRecs,
      """WITH e AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |           FROM lineitem),
        |deg AS (SELECT basket, count(*) AS d FROM e GROUP BY 1),
        |kept AS (SELECT basket FROM deg WHERE d <= 50),
        |k AS (SELECT e.basket, e.item FROM e JOIN kept USING (basket)),
        |ic AS (SELECT item, count(*) AS n FROM k GROUP BY 1),
        |tot AS (SELECT count(*) AS t FROM kept),
        |p AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
        |      FROM k a JOIN k b ON a.basket = b.basket AND a.item <> b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2),
        |rules AS (
        |  SELECT p.item_a, p.item_b,
        |    CAST((p.n_ab * 1000000) // ia.n AS BIGINT) AS confidence_ppm,
        |    CAST((CAST(p.n_ab AS HUGEINT) * tot.t * 1000000) //
        |         (CAST(ia.n AS HUGEINT) * ib.n) AS BIGINT) AS lift_ppm
        |  FROM p JOIN ic ia ON p.item_a = ia.item
        |         JOIN ic ib ON p.item_b = ib.item, tot),
        |r AS (SELECT *, row_number() OVER (PARTITION BY item_a
        |        ORDER BY lift_ppm DESC, confidence_ppm DESC, item_b) AS rnk
        |      FROM rules)
        |SELECT item_a, item_b, lift_ppm, confidence_ppm, rnk
        |FROM r WHERE rnk <= 3""".stripMargin),
    // The union+window encoding with struct-carried neighbors; the
    // interp is one truncating division from exact integers.
    QueryDef("q_resample_linear", qResampleLinear,
      """WITH obs AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |         arg_max(CAST(floor(value * 100) AS BIGINT), event_id) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |span AS (SELECT user_id, min(t) AS lo, max(t) AS hi FROM obs GROUP BY 1),
        |grid AS (
        |  SELECT user_id, g * 86400000000 AS t, CAST(NULL AS BIGINT) AS v, 0 AS is_obs
        |  FROM (SELECT user_id,
        |               unnest(generate_series((lo + 86400000000 - 1) // 86400000000,
        |                                      hi // 86400000000)) AS g
        |        FROM span)),
        |u AS (SELECT user_id, t, v, 1 AS is_obs FROM obs UNION ALL SELECT * FROM grid),
        |f AS (
        |  SELECT user_id, t, is_obs,
        |    last_value(CASE WHEN is_obs = 1 THEN struct_pack(pt := t, pv := v) END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, is_obs DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
        |    first_value(CASE WHEN is_obs = 1 THEN struct_pack(nt := t, nv := v) END
        |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, is_obs DESC
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
        |  FROM u)
        |SELECT user_id, t AS sample_ts,
        |  CASE WHEN nxt IS NULL THEN prev.pv
        |       ELSE (prev.pv * (nxt.nt - t) + nxt.nv * (t - prev.pt))
        |            // (nxt.nt - prev.pt) END AS cents
        |FROM f WHERE is_obs = 0""".stripMargin),
    // (x−min)·1e6 // (max−min), constant groups NULL.
    QueryDef("q_minmax", qMinmax,
      """WITH v AS (
        |  SELECT c_mktsegment, c_custkey,
        |         CAST(floor(c_acctbal * 100) AS BIGINT) AS x
        |  FROM customer),
        |st AS (SELECT c_mktsegment, min(x) AS lo, max(x) AS hi FROM v GROUP BY 1)
        |SELECT v.c_mktsegment, v.c_custkey, v.x,
        |  CASE WHEN st.hi = st.lo THEN NULL
        |       ELSE ((v.x - st.lo) * 1000000) // (st.hi - st.lo) END AS scaled_ppm
        |FROM v JOIN st USING (c_mktsegment)""".stripMargin),
    // Per-x min first, running-min over DISTINCT x, join back for ties.
    QueryDef("q_skyline", qSkyline,
      """WITH v AS (
        |  SELECT p_partkey, CAST(floor(p_retailprice) AS BIGINT) AS x,
        |         CAST(p_size AS BIGINT) AS y
        |  FROM part),
        |px AS (SELECT x, min(y) AS my FROM v GROUP BY 1),
        |fr AS (
        |  SELECT x, my AS y FROM (
        |    SELECT x, my, min(my) OVER (ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
        |    FROM px)
        |  WHERE best IS NULL OR my < best)
        |SELECT v.p_partkey, v.x, v.y FROM v JOIN fr USING (x, y)""".stripMargin),
    // One arm per tested pair; NULL dependents count as an extra
    // distinct image (conservative), NULL determinants are excluded.
    QueryDef("q_fd", qFd, Seq(
      fdArm("o_orderkey", "o_custkey"),
      fdArm("o_custkey", "o_orderpriority"),
      fdArm("o_orderpriority", "o_orderstatus")).mkString("\nUNION ALL\n")),
    // Risk sets and the log-survival cumsum over DISTINCT durations;
    // each factor floored to micro-nats pre-sum, terminal-0 sentinel.
    QueryDef("q_survival", qSurvival,
      """WITH per AS (
        |  SELECT user_id,
        |    (max(epoch_us(ts)) - min(epoch_us(ts))) // 86400000000 AS dur,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
        |  FROM events GROUP BY 1),
        |byt AS (SELECT dur AS t, CAST(sum(ev) AS BIGINT) AS d, count(*) AS n
        |        FROM per GROUP BY 1),
        |r AS (
        |  SELECT t, d,
        |    CAST(n + coalesce(sum(n) OVER (ORDER BY t
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0) AS BIGINT)
        |      AS n_risk
        |  FROM byt),
        |e AS (
        |  SELECT t, n_risk, d AS n_events,
        |    CASE WHEN n_risk = d THEN -1000000000
        |         ELSE CAST(floor(ln(CAST(n_risk - d AS DOUBLE) /
        |                CAST(n_risk AS DOUBLE)) * 1000000) AS BIGINT) END AS term
        |  FROM r WHERE d > 0)
        |SELECT t, n_risk, n_events,
        |  CAST(sum(term) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS log_surv_unat
        |FROM e""".stripMargin),
    // The (sortKey, id) total order makes the neighbor pair set a pure
    // function of the data; the operator's distributed numbering ≡ one
    // global row_number.
    QueryDef("q_sorted_blocking", qSortedBlocking,
      """WITH r AS (
        |  SELECT c_custkey AS id, c_name AS k,
        |         row_number() OVER (ORDER BY c_name, c_custkey) AS rk
        |  FROM customer),
        |p AS (
        |  SELECT a.id AS id_left, b.id AS id_right, b.rk - a.rk AS rank_gap
        |  FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 3)
        |SELECT id_left, id_right, CAST(rank_gap AS BIGINT) AS rank_gap
        |FROM p""".stripMargin),
    // Closed-form Rand components from the contingency cells —
    // C(n,2) terms through HUGEINT, final ppm by integral division.
    QueryDef("q_rand_index", qRandIndex, {
      val fp = graft.ops.TextAnalysis.fingerprintSql("text")
      s"""WITH j AS (SELECT md5(text) AS ca, $fp AS cb FROM documents),
         |cells AS (SELECT ca, cb, count(*) AS n FROM j GROUP BY 1, 2),
         |s AS (
         |  SELECT sum(CAST(n AS HUGEINT) * (n - 1) // 2) AS s2,
         |         CAST(sum(n) AS HUGEINT) AS tot, count(*) AS n_cells
         |  FROM cells),
         |ma AS (SELECT sum(CAST(an AS HUGEINT) * (an - 1) // 2) AS sa
         |       FROM (SELECT sum(n) AS an FROM cells GROUP BY ca)),
         |mb AS (SELECT sum(CAST(bn AS HUGEINT) * (bn - 1) // 2) AS sb
         |       FROM (SELECT sum(n) AS bn FROM cells GROUP BY cb))
         |SELECT CAST(tot AS BIGINT) AS n_ids, n_cells,
         |  CAST(s2 AS BIGINT) AS pairs_both_same,
         |  CAST(tot * (tot - 1) // 2 - sa - sb + s2 AS BIGINT) AS pairs_both_diff,
         |  CAST(((s2 + (tot * (tot - 1) // 2 - sa - sb + s2)) * 1000000) //
         |       greatest(tot * (tot - 1) // 2, 1) AS BIGINT) AS rand_ppm
         |FROM s, ma, mb""".stripMargin
    }),
    // The q_chi_square pipeline over per-user (variant, converted).
    QueryDef("q_ab_test", qAbTest,
      """WITH u AS (
        |  SELECT user_id % 2 AS a,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
        |  FROM events GROUP BY user_id),
        |cells AS (SELECT a, b, count(*) AS o FROM u GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(o) AS HUGEINT) AS t,
        |         count(DISTINCT a) AS na, count(DISTINCT b) AS nb
        |  FROM cells),
        |j AS (
        |  SELECT cells.o, tot.t, tot.na, tot.nb,
        |         CAST(ra.r AS HUGEINT) * cb.c AS rc
        |  FROM cells JOIN ra USING (a) JOIN cb USING (b), tot),
        |terms AS (
        |  SELECT o, rc, t, na, nb,
        |    CAST(((CAST(o AS HUGEINT) * t - rc) * (CAST(o AS HUGEINT) * t - rc)
        |          * 1000000) // (t * rc) AS BIGINT) AS term
        |  FROM j),
        |agg AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n_rows, max(na) AS n_a, max(nb) AS n_b,
        |         max(t) AS t, CAST(sum(term) AS BIGINT) AS obs_terms,
        |         sum(rc) AS obs_rc
        |  FROM terms)
        |SELECT n_rows, n_a, n_b,
        |       CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof,
        |       obs_terms + CAST(((t * t - obs_rc) * 1000000) // t AS BIGINT)
        |         AS chi2_micro
        |FROM agg""".stripMargin),
    // Edge-time guard INSIDE the relax join; min-arrival is
    // order-independent, the pageRankExact determinism contract.
    QueryDef("q_temporal_bfs", qTemporalBfs,
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey AS c, -l_suppkey AS sp,
         |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS t
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |edges AS (
         |  SELECT c AS src, sp AS dst, t FROM e0
         |  UNION SELECT sp, c, t FROM e0),
         |a0 AS (SELECT c_custkey AS id, CAST(0 AS BIGINT) AS arrival
         |       FROM customer WHERE c_custkey <= 3),
         |${graft.ops.Graphs.temporalBfsSql(4)}""".stripMargin),
    // LSH candidates joined back to the uncapped inverted index; the
    // min/max shared shingle is a total, engine-free order.
    QueryDef("q_dup_evidence", qDupEvidence,
      s"""WITH ${minhashCandCtes(8, 4, Some(LshCap))},
         |idx AS (SELECT doc_id, u.s AS shingle FROM shf, unnest(shf.shl) AS u(s))
         |SELECT c.id_a, c.id_b, count(*) AS n_shared,
         |       min(a.shingle) AS first_shingle, max(a.shingle) AS last_shingle
         |FROM cand c
         |JOIN idx a ON c.id_a = a.doc_id
         |JOIN idx b ON c.id_b = b.doc_id AND a.shingle = b.shingle
         |GROUP BY 1, 2""".stripMargin),
    // Exact pairs at the 0.4 floor (uncapped co-occurrence = the
    // prefix path's recall proof), bucketed by Jaccard decile — the
    // single double division is identical IEEE on both engines.
    QueryDef("q_dedup_curve", qDedupCurve,
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(${graft.ops.Dedup.shinglesSql("text", 3)}) AS shl
         |  FROM documents),
         |shf AS (SELECT * FROM sh WHERE len(shl) > 0),
         |idx AS (SELECT doc_id, u.s AS shingle FROM shf, unnest(shf.shl) AS u(s)),
         |co AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM idx a JOIN idx b ON a.shingle = b.shingle
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |v AS (
         |  SELECT co.inter,
         |    CAST(len(sa.shl) AS BIGINT) AS size_a, CAST(len(sb.shl) AS BIGINT) AS size_b
         |  FROM co
         |  JOIN shf sa ON co.id_a = sa.doc_id
         |  JOIN shf sb ON co.id_b = sb.doc_id),
         |j AS (
         |  SELECT CAST(inter AS DOUBLE) / (size_a + size_b - inter) AS jac FROM v)
         |SELECT CAST(floor(jac * 10) AS BIGINT) AS decile, count(*) AS n_pairs
         |FROM j WHERE jac >= 0.4 GROUP BY 1""".stripMargin),
    // Same banded signatures as q_minhash_lsh (one-table CTE chain —
    // the operator buckets the union identically); the cross pair set
    // is just a side predicate on the bucket self-join.
    QueryDef("q_incr_lsh", qIncrLsh,
      s"""WITH ${minhashCandCtes(8, 4, Some(LshCap))},
         |cand2 AS (
         |  SELECT a.doc_id AS id_new, b.doc_id AS id_corpus
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.digest = b.digest
         |  WHERE a.doc_id % 20 = 0 AND b.doc_id % 20 <> 0)
         |SELECT DISTINCT id_new, id_corpus FROM cand2""".stripMargin),
    // Duplicate values collapse BEFORE the cumsum (input order can
    // never matter); threshold rank (W+1)//2 on exact BIGINT weights.
    QueryDef("q_weighted_median", qWeightedMedian,
      """WITH cnt AS (SELECT l_orderkey, count(*) AS w FROM lineitem GROUP BY 1),
        |v0 AS (
        |  SELECT o_orderpriority AS g, CAST(floor(o_totalprice) AS BIGINT) AS v,
        |         cnt.w
        |  FROM orders JOIN cnt ON o_orderkey = l_orderkey),
        |v AS (SELECT g, v, CAST(sum(w) AS BIGINT) AS w FROM v0 GROUP BY 1, 2),
        |c AS (
        |  SELECT g, v,
        |    sum(w) OVER (PARTITION BY g ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(w) OVER (PARTITION BY g) AS tot
        |  FROM v)
        |SELECT g AS o_orderpriority, CAST(min(v) AS BIGINT) AS weighted_median,
        |       CAST(max(tot) AS BIGINT) AS total_weight
        |FROM c WHERE cw >= (tot + 1) // 2 GROUP BY 1""".stripMargin),
    // Both shortlists rebuilt by their own oracles' pipelines (CTE
    // names disambiguated), fused with the identical integer formula.
    QueryDef("q_rrf", qRrf, {
      val dot = (1 to EmbDim).map(i => s"q2.qc[$i] * e.codes[$i]").mkString(" + ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |sim AS (
         |  SELECT query_id, neighbor_id,
         |    round(${graft.ops.Similarity.cosineSql("qv", "cv", EmbDim)}, 6) AS cosine
         |  FROM q, c WHERE query_id <> neighbor_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM sim),
         |ann AS (SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5),
         |st AS (
         |  SELECT gs.i AS pos,
         |    min(CAST(embedding[gs.i] AS DOUBLE)) AS lo,
         |    max(CAST(embedding[gs.i] AS DOUBLE)) AS hi
         |  FROM embeddings, generate_series(1, $EmbDim) gs(i) GROUP BY gs.i),
         |sl AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM st),
         |enc AS (
         |  SELECT vec_id,
         |    list_transform(generate_series(1, $EmbDim), i ->
         |      CAST(CASE WHEN sl.his[i] = sl.los[i] THEN 0
         |        ELSE least(255, floor((CAST(embedding[i] AS DOUBLE) - sl.los[i]) * 255.0
         |          / (sl.his[i] - sl.los[i])))
         |        END AS INTEGER)) AS codes
         |  FROM embeddings, sl),
         |q2 AS (SELECT vec_id AS query_id, codes AS qc FROM enc WHERE vec_id < 5),
         |sc AS (
         |  SELECT q2.query_id, e.vec_id AS neighbor_id,
         |    CAST($dot AS BIGINT) AS dot_q
         |  FROM q2 CROSS JOIN enc e WHERE e.vec_id <> q2.query_id),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY dot_q DESC, neighbor_id) AS rank FROM sc),
         |i8 AS (SELECT query_id, neighbor_id, rank FROM r2 WHERE rank <= 5),
         |u AS (SELECT * FROM ann UNION ALL SELECT * FROM i8),
         |f AS (
         |  SELECT query_id, neighbor_id,
         |    CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro,
         |    count(*) AS n_sources
         |  FROM u GROUP BY 1, 2),
         |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY rrf_micro DESC, neighbor_id) AS rank FROM f)
         |SELECT query_id, neighbor_id, rrf_micro, n_sources, rank
         |FROM rr WHERE rank <= 5""".stripMargin
    }),
    // Level priority via CASE order; each level's right key is unique,
    // so the two LEFT JOINs + coalesce reproduce first-match-wins.
    QueryDef("q_waterfall", qWaterfall,
      """WITH l AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_custkey % 3 = 0 THEN NULL ELSE o_custkey END AS k1,
        |    CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE -o_custkey END AS k2
        |  FROM orders),
        |res AS (
        |  SELECT l.o_orderkey,
        |    CASE WHEN c1.c_custkey IS NOT NULL THEN 1
        |         WHEN c2.c_custkey IS NOT NULL THEN 2 END AS matched_level,
        |    coalesce(c1.c_acctbal, c2.c_acctbal) AS bal
        |  FROM l
        |  LEFT JOIN customer c1 ON l.k1 = c1.c_custkey
        |  LEFT JOIN customer c2 ON l.k2 = -c2.c_custkey)
        |SELECT matched_level, count(*) AS n,
        |       CAST(sum(floor(bal)) AS BIGINT) AS sum_floor_bal
        |FROM res GROUP BY 1""".stripMargin),
    // The q_mad rank selections joined back row-wise; `//` and `div`
    // both truncate toward zero on the negative deviations (probed —
    // the q_trend precedent).
    QueryDef("q_robust_z", qRobustZ,
      """WITH v AS (
        |  SELECT o_orderpriority AS g, o_orderkey,
        |         CAST(floor(o_totalprice * 100) AS BIGINT) AS val
        |  FROM orders),
        |rk1 AS (SELECT g, val,
        |          row_number() OVER (PARTITION BY g ORDER BY val) AS rk,
        |          count(*) OVER (PARTITION BY g) AS n FROM v),
        |med AS (SELECT g, val AS med FROM rk1 WHERE rk = (n - 1) // 2 + 1),
        |d AS (SELECT v.g, med.med, abs(v.val - med.med) AS dv
        |      FROM v JOIN med USING (g)),
        |rk2 AS (SELECT g, med, dv,
        |          row_number() OVER (PARTITION BY g ORDER BY dv) AS rk,
        |          count(*) OVER (PARTITION BY g) AS n FROM d),
        |st AS (SELECT g, med, dv AS mad FROM rk2 WHERE rk = (n - 1) // 2 + 1)
        |SELECT v.g AS o_orderpriority, v.o_orderkey, v.val AS x,
        |  CASE WHEN st.mad = 0 THEN NULL
        |       ELSE ((v.val - st.med) * 1000000) // st.mad END AS robust_z_ppm
        |FROM v JOIN st USING (g)""".stripMargin),
    // Confidence/lift from counts on the SAME hub-capped universe as
    // q_copurchase; lift numerator through HUGEINT ≡ decimal(38,0).
    QueryDef("q_assoc_rules", qAssocRules,
      """WITH e AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |           FROM lineitem),
        |deg AS (SELECT basket, count(*) AS d FROM e GROUP BY 1),
        |kept AS (SELECT basket FROM deg WHERE d <= 50),
        |k AS (SELECT e.basket, e.item FROM e JOIN kept USING (basket)),
        |ic AS (SELECT item, count(*) AS n FROM k GROUP BY 1),
        |tot AS (SELECT count(*) AS t FROM kept),
        |p AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
        |      FROM k a JOIN k b ON a.basket = b.basket AND a.item <> b.item
        |      GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.item_a, p.item_b, ia.n AS n_a, ib.n AS n_b, p.n_ab,
        |  CAST((p.n_ab * 1000000) // ia.n AS BIGINT) AS confidence_ppm,
        |  CAST((CAST(p.n_ab AS HUGEINT) * tot.t * 1000000) //
        |       (CAST(ia.n AS HUGEINT) * ib.n) AS BIGINT) AS lift_ppm
        |FROM p JOIN ic ia ON p.item_a = ia.item
        |       JOIN ic ib ON p.item_b = ib.item, tot""".stripMargin),
    // Exact power-of-2 half-life weights: 1e6 // 2^Δ, zero beyond 19
    // half-lives — all-integer, order-free.
    QueryDef("q_decayed", qDecayed,
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t,
        |         CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events),
        |mx AS (SELECT max(t) AS now FROM e),
        |wts AS (
        |  SELECT user_id, v, greatest((mx.now - t) // 604800000000, 0) AS d
        |  FROM e, mx),
        |sc AS (
        |  SELECT user_id, v,
        |    CASE WHEN d >= 20 THEN 0
        |         ELSE 1000000 // (CAST(1 AS BIGINT) << d) END AS w
        |  FROM wts)
        |SELECT user_id, count(*) AS n_events,
        |       CAST(sum(v * w) AS BIGINT) AS decayed_micro
        |FROM sc GROUP BY 1""".stripMargin),
    // Observed cells carry per-cell floored terms; the o=0 mass is the
    // closed-form T² − Σ_obs r·c, floored once — the operator's
    // documented contract.
    QueryDef("q_chi_square", qChiSquare,
      """WITH cells AS (
        |  SELECT source AS a, lang AS b, count(*) AS o
        |  FROM documents GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(o) AS HUGEINT) AS t,
        |         count(DISTINCT a) AS na, count(DISTINCT b) AS nb
        |  FROM cells),
        |j AS (
        |  SELECT cells.o, tot.t, tot.na, tot.nb,
        |         CAST(ra.r AS HUGEINT) * cb.c AS rc
        |  FROM cells JOIN ra USING (a) JOIN cb USING (b), tot),
        |terms AS (
        |  SELECT o, rc, t, na, nb,
        |    CAST(((CAST(o AS HUGEINT) * t - rc) * (CAST(o AS HUGEINT) * t - rc)
        |          * 1000000) // (t * rc) AS BIGINT) AS term
        |  FROM j),
        |agg AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n_rows, max(na) AS n_a, max(nb) AS n_b,
        |         max(t) AS t, CAST(sum(term) AS BIGINT) AS obs_terms,
        |         sum(rc) AS obs_rc
        |  FROM terms)
        |SELECT n_rows, n_a, n_b,
        |       CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof,
        |       obs_terms + CAST(((t * t - obs_rc) * 1000000) // t AS BIGINT)
        |         AS chi2_micro
        |FROM agg""".stripMargin),
    // idf = one ln of an integer ratio floored to micro-nats; the
    // (score DESC, term) order is total, so the ranking hash-matches.
    QueryDef("q_tfidf", qTfidf,
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (
        |  SELECT doc_id, tok AS term, count(*) AS tf
        |  FROM tk WHERE tok <> '' GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
        |sc AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |    tf.tf * CAST(floor(ln(CAST(n.n AS DOUBLE) / CAST(dfq.dfc AS DOUBLE))
        |      * 1000000) AS BIGINT) AS score_unat
        |  FROM tf JOIN dfq USING (term), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score_unat DESC, term) AS rank FROM sc)
        |SELECT doc_id, term, tf, score_unat, rank FROM r WHERE rank <= 3""".stripMargin),
    // HRW weights recomputed per (key, shard); arg_max is unique
    // because md5 weights never tie on real keys.
    QueryDef("q_shards", qShards,
      """WITH k AS (SELECT c_custkey AS key FROM customer),
        |w AS (
        |  SELECT key, s,
        |    CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || ':' ||
        |      CAST(s AS VARCHAR)), 1, 15)) AS BIGINT) AS w
        |  FROM k, UNNEST(range(0, 11)) AS u(s)),
        |a10 AS (SELECT key, arg_max(s, w) AS shard FROM w WHERE s < 10 GROUP BY key),
        |a11 AS (SELECT key, arg_max(s, w) AS shard FROM w GROUP BY key)
        |SELECT a10.shard AS shard, count(*) AS n_keys,
        |       CAST(sum(CASE WHEN a10.shard = a11.shard THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_stay
        |FROM a10 JOIN a11 USING (key) GROUP BY 1""".stripMargin, HeavyScan),
    // Per-field survivorship argmax as a composite struct max — the
    // tie-safe mirror of goldenRecord's max(struct(has, rank, value)).
    QueryDef("q_golden", qGolden,
      """WITH b AS (
        |  SELECT c_custkey // 3 AS cluster_id, c_name, c_mktsegment,
        |         c_acctbal, c_custkey
        |  FROM customer)
        |SELECT cluster_id, count(*) AS n_members,
        |  (max(struct_pack(h := CASE WHEN c_name IS NULL THEN 0 ELSE 1 END,
        |                   r := c_acctbal, v := c_name))).v AS c_name,
        |  (max(struct_pack(h := CASE WHEN c_mktsegment IS NULL THEN 0 ELSE 1 END,
        |                   r := c_custkey, v := c_mktsegment))).v AS c_mktsegment,
        |  (max(struct_pack(h := CASE WHEN c_acctbal IS NULL THEN 0 ELSE 1 END,
        |                   r := c_custkey, v := c_acctbal))).v AS c_acctbal
        |FROM b GROUP BY 1""".stripMargin),
    // Last click at-or-before each purchase: LEFT JOIN + max ≡ the
    // backward-inclusive asof; payload is the matched time itself, so
    // equal-time click duplicates cannot diverge.
    QueryDef("q_attribution", qAttribution,
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t_conv
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS t_click
        |  FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.event_id, p.user_id, p.t_conv, max(c.t_click) AS t_touch
        |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.t_click <= p.t_conv
        |  GROUP BY 1, 2, 3)
        |SELECT event_id, user_id, t_conv, t_touch, t_conv - t_touch AS delta_us
        |FROM j""".stripMargin),
    // Candidates from the minhash CTEs, exact pairs from the uncapped
    // co-occurrence join (the q_jaccard_prefix oracle), recall as an
    // exact integer ppm.
    QueryDef("q_minhash_recall", qMinhashRecall,
      s"""WITH ${minhashCandCtes(8, 4, Some(LshCap))},
         |idx AS (SELECT doc_id, u.s AS shingle FROM shf, unnest(shf.shl) AS u(s)),
         |co AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM idx a JOIN idx b ON a.shingle = b.shingle
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |v AS (
         |  SELECT co.id_a, co.id_b, co.inter,
         |    len(sa.shl) AS size_a, len(sb.shl) AS size_b
         |  FROM co
         |  JOIN shf sa ON co.id_a = sa.doc_id
         |  JOIN shf sb ON co.id_b = sb.doc_id),
         |ex AS (
         |  SELECT id_a, id_b FROM v
         |  WHERE CAST(inter AS DOUBLE) / (size_a + size_b - inter) >= $JacMinJaccard),
         |hit AS (SELECT ex.id_a FROM ex JOIN cand USING (id_a, id_b))
         |SELECT (SELECT count(*) FROM ex) AS n_exact,
         |       (SELECT count(*) FROM cand) AS n_cand,
         |       (SELECT count(*) FROM hit) AS n_hit,
         |       CAST(((SELECT count(*) FROM hit) * 1000000) //
         |            (SELECT count(*) FROM ex) AS BIGINT) AS recall_ppm""".stripMargin),
    // Same shingle/index/co-occurrence mirror as q_jaccard_exact, with
    // exact integer-ppm containments (// ≡ div, non-negative).
    QueryDef("q_containment", qContainment,
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(${graft.ops.Dedup.shinglesSql("text", 3)}) AS shl
         |  FROM documents),
         |shf AS (SELECT * FROM sh WHERE len(shl) > 0),
         |idx AS (
         |  SELECT doc_id, u.s AS shingle FROM shf, unnest(shf.shl) AS u(s)
         |  QUALIFY count(*) OVER (PARTITION BY shingle) <= 50),
         |co AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM idx a JOIN idx b ON a.shingle = b.shingle
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |v AS (
         |  SELECT co.id_a, co.id_b, co.inter,
         |    CAST(len(sa.shl) AS BIGINT) AS size_a, CAST(len(sb.shl) AS BIGINT) AS size_b
         |  FROM co
         |  JOIN shf sa ON co.id_a = sa.doc_id
         |  JOIN shf sb ON co.id_b = sb.doc_id)
         |SELECT id_a, id_b, inter, size_a, size_b,
         |  CAST((inter * 1000000) // size_a AS BIGINT) AS cont_a_ppm,
         |  CAST((inter * 1000000) // size_b AS BIGINT) AS cont_b_ppm
         |FROM v
         |WHERE greatest((inter * 1000000) // size_a,
         |               (inter * 1000000) // size_b) >= 500000""".stripMargin),
    // Window-3 ordered pairs: k runs over start positions, dd over
    // offsets; the WHERE bound is the slice-length clamp.
    QueryDef("q_skipgram", qSkipgram,
      """WITH d AS (
        |  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |p AS (
        |  SELECT ts[k] AS tok_a, ts[k + dd] AS tok_b
        |  FROM d, UNNEST(range(1, len(ts))) AS t(k), UNNEST(range(1, 4)) AS u(dd)
        |  WHERE k + dd <= len(ts))
        |SELECT tok_a, tok_b, count(*) AS n_cooc
        |FROM p GROUP BY 1, 2 HAVING count(*) >= 20""".stripMargin, HeavyScan),
    // The oracle recomputes the int8 codebook in SQL (the
    // q_quantize_int8 contract) and scores with an explicit integer
    // dot — order-free, so the rank order is total on both engines.
    QueryDef("q_ann_int8", qAnnInt8, {
      val dot = (1 to EmbDim).map(i => s"q.qc[$i] * e.codes[$i]").mkString(" + ")
      s"""WITH st AS (
         |  SELECT gs.i AS pos,
         |    min(CAST(embedding[gs.i] AS DOUBLE)) AS lo,
         |    max(CAST(embedding[gs.i] AS DOUBLE)) AS hi
         |  FROM embeddings, generate_series(1, $EmbDim) gs(i) GROUP BY gs.i),
         |sl AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM st),
         |enc AS (
         |  SELECT vec_id,
         |    list_transform(generate_series(1, $EmbDim), i ->
         |      CAST(CASE WHEN sl.his[i] = sl.los[i] THEN 0
         |        ELSE least(255, floor((CAST(embedding[i] AS DOUBLE) - sl.los[i]) * 255.0
         |          / (sl.his[i] - sl.los[i])))
         |        END AS INTEGER)) AS codes
         |  FROM embeddings, sl),
         |q AS (SELECT vec_id AS query_id, codes AS qc FROM enc WHERE vec_id < 5),
         |sc AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |    CAST($dot AS BIGINT) AS dot_q
         |  FROM q CROSS JOIN enc e WHERE e.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY dot_q DESC, neighbor_id) AS rank FROM sc)
         |SELECT query_id, neighbor_id, dot_q, rank FROM r WHERE rank <= 5""".stripMargin
    }),
    // Sign-signature CTE shared shape: identical half-word layout and
    // `> 0` test as Similarity.signWord; xor+bit_count distance.
    QueryDef("q_hamming_topk", qHammingTopk,
      s"""WITH sig AS (
         |  SELECT vec_id,
         |    ${graft.ops.Similarity.signWordSql("embedding", 0, EmbDim)} AS sig0,
         |    ${graft.ops.Similarity.signWordSql("embedding", 1, EmbDim)} AS sig1
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, sig0 AS q0, sig1 AS q1 FROM sig WHERE vec_id < 5),
         |sc AS (
         |  SELECT q.query_id, s.vec_id AS neighbor_id,
         |    CAST(bit_count(xor(q.q0, s.sig0)) + bit_count(xor(q.q1, s.sig1)) AS BIGINT) AS hamming
         |  FROM q CROSS JOIN sig s WHERE s.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY hamming, neighbor_id) AS rank FROM sc)
         |SELECT query_id, neighbor_id, hamming, rank FROM r WHERE rank <= 5""".stripMargin),
    // The oracle REPRODUCES the multi-index banding (8-bit bands over
    // the two half-words), so the reported pair set is exactly the
    // banded-candidate ∩ radius set on both engines.
    QueryDef("q_hamming_neardups", qHammingNeardups,
      s"""WITH sig AS (
         |  SELECT vec_id,
         |    ${graft.ops.Similarity.signWordSql("embedding", 0, EmbDim)} AS sig0,
         |    ${graft.ops.Similarity.signWordSql("embedding", 1, EmbDim)} AS sig1
         |  FROM embeddings),
         |bands AS (
         |  SELECT vec_id, gs.b AS band,
         |    CASE WHEN gs.b < 4 THEN (sig0 >> (gs.b * 8)) & 255
         |         ELSE (sig1 >> ((gs.b - 4) * 8)) & 255 END AS bits
         |  FROM sig, generate_series(0, 7) gs(b)),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bits = b.bits AND a.vec_id < b.vec_id),
         |h AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(bit_count(xor(sa.sig0, sb.sig0)) + bit_count(xor(sa.sig1, sb.sig1)) AS BIGINT) AS hamming
         |  FROM cand c
         |  JOIN sig sa ON sa.vec_id = c.id_a
         |  JOIN sig sb ON sb.vec_id = c.id_b)
         |SELECT id_a, id_b, hamming FROM h WHERE hamming <= 18""".stripMargin),
    // dHash mirror from first principles: the analytic gray formula
    // (R=G=B → BT.601 luma is the gray value exactly), 4×4 block sums
    // floor-divided, gradient-sign bits packed into the same two
    // half-words the Spark decode path emits.
    QueryDef("q_image_dhash", qImageDhash,
      s"""WITH $ImageDhashCtes
         |SELECT d.doc_id, CAST(36 AS INT) AS width, CAST(32 AS INT) AS height,
         |  CAST(coalesce(a.d0, 0) AS BIGINT) AS d0,
         |  CAST(coalesce(a.d1, 0) AS BIGINT) AS d1
         |FROM documents d LEFT JOIN agg a ON a.id = d.doc_id""".stripMargin),
    // Near-duplicate images: the analytic dHash feeds the SAME 8-band
    // multi-index join as q_hamming_neardups; radius 7 < 8 bands, so
    // the pigeonhole guarantee makes the result the EXACT radius-7
    // pair set (no candidate-generation caveat on this row).
    QueryDef("q_image_neardups", qImageNeardups,
      s"""WITH $ImageDhashCtes,
         |sig AS (
         |  SELECT d.doc_id AS id, coalesce(a.d0, 0) AS sig0, coalesce(a.d1, 0) AS sig1
         |  FROM documents d LEFT JOIN agg a ON a.id = d.doc_id),
         |bands AS (
         |  SELECT id, gs.b AS band,
         |    CASE WHEN gs.b < 4 THEN (sig0 >> (gs.b * 8)) & 255
         |         ELSE (sig1 >> ((gs.b - 4) * 8)) & 255 END AS bits
         |  FROM sig, generate_series(0, 7) gs(b)),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bits = b.bits AND a.id < b.id),
         |h AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(bit_count(xor(sa.sig0, sb.sig0)) + bit_count(xor(sa.sig1, sb.sig1)) AS BIGINT) AS hamming
         |  FROM cand c JOIN sig sa ON sa.id = c.id_a JOIN sig sb ON sb.id = c.id_b)
         |SELECT id_a, id_b, hamming FROM h WHERE hamming <= 7""".stripMargin),
    // Seasonal mirror: same series CTEs, same centered RANGE window,
    // floor-div trend, phase agg.
    QueryDef("q_seasonal", qSeasonal,
      s"""WITH $DailySeriesCtes,
        |tw AS (
        |  SELECT t, x,
        |    count(*) OVER (ORDER BY t RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn,
        |    sum(x) OVER (ORDER BY t RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS ws
        |  FROM ser)
        |SELECT t % 7 AS phase, CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(x - ws // 7) AS BIGINT) AS resid_sum
        |FROM tw WHERE wn = 7 GROUP BY 1""".stripMargin),
    // Bloom mirror: identical salted-md5 bit positions, bit_or'd into
    // the same 32-bit words, all-k-bits membership test per file.
    QueryDef("q_bloom_index", qBloomIndex, {
      def arms(keyExpr: String) = (0 until 3).map(i =>
        s"WHEN gs.i = $i THEN ${graft.ops.Sketches.bloomBitSql(keyExpr, i, 1024)}")
        .mkString("CASE ", " ", " END")
      s"""WITH o AS (SELECT o_orderkey % 8 AS file, o_custkey FROM orders),
         |bitsrc AS (
         |  SELECT file, ${arms("o_custkey")} AS bit
         |  FROM o, generate_series(0, 2) gs(i)),
         |idx AS (
         |  SELECT file, bit // 32 AS word,
         |         bit_or(1::BIGINT << (bit % 32)::INT) AS bits
         |  FROM bitsrc GROUP BY 1, 2),
         |probes AS (SELECT c_custkey AS probe_key FROM customer WHERE c_custkey <= 40),
         |pb AS (
         |  SELECT probe_key, f.file, ${arms("probe_key")} AS bit
         |  FROM probes, (SELECT DISTINCT file FROM o) f, generate_series(0, 2) gs(i)),
         |hit AS (
         |  SELECT pb.probe_key, pb.file,
         |    CASE WHEN (coalesce(idx.bits, 0) & (1::BIGINT << (pb.bit % 32)::INT))
         |              = (1::BIGINT << (pb.bit % 32)::INT) THEN 1 ELSE 0 END AS h
         |  FROM pb LEFT JOIN idx ON idx.file = pb.file AND idx.word = pb.bit // 32),
         |mb AS (SELECT probe_key, file, (sum(h) = 3) AS maybe FROM hit GROUP BY 1, 2),
         |act AS (SELECT DISTINCT o_custkey AS probe_key, file, true AS actual FROM o)
         |SELECT m.probe_key, m.file, m.maybe, coalesce(a.actual, false) AS actual
         |FROM mb m LEFT JOIN act a USING (probe_key, file)""".stripMargin
    }, HeavyScan),
    // Novelty mirror: distinct (doc, trigram), min-doc ownership,
    // integer ppm.
    QueryDef("q_novelty", qNovelty,
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, u.sh
         |  FROM (SELECT doc_id, ${graft.ops.Dedup.shinglesSql("text", 3)} AS shs
         |        FROM documents), unnest(shs) AS u(sh)),
         |fs AS (SELECT sh, min(doc_id) AS first_id FROM sh GROUP BY 1)
         |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN fs.first_id = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  CAST((sum(CASE WHEN fs.first_id = sh.doc_id THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS novelty_ppm
         |FROM sh JOIN fs USING (sh) GROUP BY 1""".stripMargin, HeavyScan,
      SweepExcluded("already at TRUE sf10 in SCALE_PROBE_r14 (14.7 s)")),
    // CUSUM mirror: identical milli-mean series + planted shift, the
    // same running-sum/running-min prefix form.
    QueryDef("q_cusum", qCusum,
      """WITH d0 AS (SELECT min(o_orderdate) AS v FROM orders),
        |daily AS (
        |  SELECT CAST(datediff('day', d0.v, o_orderdate) AS BIGINT) AS t,
        |         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS dc
        |  FROM orders, d0 GROUP BY 1),
        |tot AS (SELECT CAST(sum(dc) AS BIGINT) AS tc, count(*) AS nd FROM daily),
        |ser AS (
        |  SELECT t, (dc * nd * 1000) // tc +
        |    CASE WHEN t >= 1200 AND t < 1800 THEN 700 ELSE 0 END AS x
        |  FROM daily, tot),
        |c AS (
        |  SELECT t, x,
        |    sum(x - 1200) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM ser),
        |m AS (
        |  SELECT t, x, cum,
        |    least(min(cum) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING), 0) AS mn
        |  FROM c)
        |SELECT t, CAST(x AS BIGINT) AS x, CAST(cum - mn AS BIGINT) AS s,
        |       cum - mn >= 20000 AS alarm
        |FROM m""".stripMargin),
    // Coverage mirror: same (freq DESC, tok) total order, same
    // cutoff explode, 1-row total.
    QueryDef("q_vocab_coverage", qVocabCoverage,
      """WITH v AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT u.tok FROM (
        |          SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |          FROM documents), unnest(ts) AS u(tok))
        |  GROUP BY 1),
        |rk AS (SELECT tok, freq,
        |         row_number() OVER (ORDER BY freq DESC, tok) AS rank FROM v),
        |t AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM v),
        |cf AS (SELECT unnest([1, 8, 64, 512, 4096, 32768]) AS cutoff)
        |SELECT cf.cutoff, CAST(count(*) AS BIGINT) AS n_types,
        |       CAST(sum(rk.freq) AS BIGINT) AS covered_tokens,
        |       CAST((sum(rk.freq) * 1000000) // t.total AS BIGINT) AS coverage_ppm
        |FROM rk, cf, t WHERE rk.rank <= cf.cutoff
        |GROUP BY 1, t.total""".stripMargin),
    // Label-agreement mirror: the q_ann_int8 quantized-kNN CTEs with
    // a 50-query filter, then exact label-vote integers.
    QueryDef("q_label_agreement", qLabelAgreement, {
      val dot = (1 to EmbDim).map(i => s"q.qc[$i] * e.codes[$i]").mkString(" + ")
      s"""WITH st AS (
         |  SELECT gs.i AS pos,
         |    min(CAST(embedding[gs.i] AS DOUBLE)) AS lo,
         |    max(CAST(embedding[gs.i] AS DOUBLE)) AS hi
         |  FROM embeddings, generate_series(1, $EmbDim) gs(i) GROUP BY gs.i),
         |sl AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM st),
         |enc AS (
         |  SELECT vec_id,
         |    list_transform(generate_series(1, $EmbDim), i ->
         |      CAST(CASE WHEN sl.his[i] = sl.los[i] THEN 0
         |        ELSE least(255, floor((CAST(embedding[i] AS DOUBLE) - sl.los[i]) * 255.0
         |          / (sl.his[i] - sl.los[i])))
         |        END AS INTEGER)) AS codes
         |  FROM embeddings, sl),
         |q AS (SELECT vec_id AS query_id, codes AS qc FROM enc WHERE vec_id < 50),
         |sc AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id, CAST($dot AS BIGINT) AS dot_q
         |  FROM q CROSS JOIN enc e WHERE e.vec_id <> q.query_id),
         |nn AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, neighbor_id) AS rank
         |  FROM sc QUALIFY rank <= 5),
         |lj AS (
         |  SELECT nn.query_id, ql.label, nl.label AS n_label
         |  FROM nn JOIN embeddings ql ON ql.vec_id = nn.query_id
         |          JOIN embeddings nl ON nl.vec_id = nn.neighbor_id)
         |SELECT query_id, label, CAST(count(*) AS BIGINT) AS n_neighbors,
         |  CAST(sum(CASE WHEN n_label = label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         |  CAST((sum(CASE WHEN n_label = label THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS agree_ppm,
         |  sum(CASE WHEN n_label = label THEN 1 ELSE 0 END) * 2 < count(*) AS suspect
         |FROM lj GROUP BY 1, 2""".stripMargin
    }),
    // FK mirror: identical full-join shape per relation, null tally
    // as a scalar subquery.
    QueryDef("q_fk_integrity", qFkIntegrity, {
      def rel(name: String, child: String, ck: String, parent: String, pk: String) =
        s"""SELECT '$name' AS relation,
           |  CAST(coalesce(sum(coalesce(cn, 0)), 0) AS BIGINT) AS n_child_rows,
           |  (SELECT count(*) FROM $child WHERE $ck IS NULL) AS n_null_fk_rows,
           |  CAST(coalesce(sum(CASE WHEN p IS NULL THEN cn ELSE 0 END), 0) AS BIGINT) AS n_orphan_rows,
           |  CAST(coalesce(sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_orphan_keys,
           |  CAST(coalesce(sum(CASE WHEN p IS NOT NULL AND cn IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_referenced_parents,
           |  CAST(coalesce(sum(CASE WHEN cn IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_unreferenced_parents
           |FROM (SELECT $ck AS k, count(*) AS cn FROM $child WHERE $ck IS NOT NULL GROUP BY 1) ck
           |FULL JOIN (SELECT DISTINCT $pk AS k, true AS p FROM $parent) pk USING (k)""".stripMargin
      Seq(
        rel("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        rel("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        rel("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        rel("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"))
        .mkString("\nUNION ALL\n")
    }),
    // Join-forecast mirror: per-key counts, HUGEINT products, same
    // (contribution DESC, key string DESC) top pick.
    QueryDef("q_join_estimate", qJoinEstimate, {
      def rel(name: String, left: String, lk: String, right: String, rk: String) =
        s"""SELECT '$name' AS relation, t.nk AS n_shared_keys, t.nj AS n_join_rows,
           |  top.tk AS top_key, top.tc AS top_key_rows,
           |  (top.tc * 1000000) // t.nj AS top_share_ppm
           |FROM (SELECT count(*) AS nk, CAST(sum(c) AS BIGINT) AS nj FROM (
           |        SELECT CAST(ln AS HUGEINT) * rn AS c
           |        FROM (SELECT $lk AS k, count(*) AS ln FROM $left GROUP BY 1) la
           |        JOIN (SELECT $rk AS k, count(*) AS rn FROM $right GROUP BY 1) ra USING (k))) t,
           |     (SELECT CAST(k AS VARCHAR) AS tk, CAST(ln * rn AS BIGINT) AS tc
           |      FROM (SELECT $lk AS k, count(*) AS ln FROM $left GROUP BY 1) la
           |      JOIN (SELECT $rk AS k, count(*) AS rn FROM $right GROUP BY 1) ra USING (k)
           |      ORDER BY ln * rn DESC, CAST(k AS VARCHAR) DESC LIMIT 1) top""".stripMargin
      Seq(rel("orders*customer", "orders", "o_custkey", "customer", "c_custkey"),
        rel("lineitem*part", "lineitem", "l_partkey", "part", "p_partkey"))
        .mkString("\nUNION ALL\n")
    }),
    // Equi-depth mirror: same rank math, same bucket assignment.
    QueryDef("q_equidepth", qEquidepth,
      """WITH v AS (
        |  SELECT c_mktsegment, c_custkey,
        |         CAST(floor(c_acctbal * 100) AS BIGINT) AS val
        |  FROM customer),
        |rk AS (
        |  SELECT c_mktsegment, val,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY val, c_custkey) AS rk,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM v)
        |SELECT c_mktsegment, ((rk - 1) * 8) // n AS bucket,
        |       CAST(count(*) AS BIGINT) AS n, min(val) AS lo, max(val) AS hi
        |FROM rk GROUP BY 1, 2""".stripMargin),
    // Benford mirror: same digit extract, same shared literal table.
    QueryDef("q_benford", qBenford,
      s"""WITH d AS (
         |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders)
         |  WHERE v > 0),
         |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g),
         |e AS (SELECT ${graft.ops.Profiling.benfordExpectedPpmSql}::BIGINT[] AS exp_arr)
         |SELECT g.digit, g.n, (g.n * 1000000) // t.tot AS obs_ppm,
         |       e.exp_arr[g.digit] AS exp_ppm,
         |       (g.n * 1000000) // t.tot - e.exp_arr[g.digit] AS dev_ppm
         |FROM g, t, e""".stripMargin),
    // CC graded against the planted ground truth, not a mirror: every
    // image's cluster is its base decade (and the keeper its minimum)
    // iff the pair detection found every same-base link and no
    // cross-base one.
    QueryDef("q_image_clusters", qImageClusters,
      """SELECT doc_id, (doc_id // 10) * 10 AS cluster_id,
        |       doc_id = (doc_id // 10) * 10 AS keep
        |FROM documents""".stripMargin),
    // L-diversity mirror: three-level agg, same QI and sensitive band.
    QueryDef("q_l_diversity", qLDiversity,
      """WITH sv AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS s, count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(sum(n) AS BIGINT) AS sz, count(*) AS dv
        |  FROM sv GROUP BY 1, 2)
        |SELECT sz AS class_size, dv AS diversity,
        |       CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(count(*) * sz AS BIGINT) AS n_rows,
        |       dv < 3 AS risky
        |FROM cls GROUP BY 1, 2""".stripMargin),
    // Calibration mirror: identical md5 confidence + independent md5
    // coin (non-negative operands, div ≡ //), same fixed-width bins.
    QueryDef("q_calibration", qCalibration,
      """WITH sc AS (
        |  SELECT CAST(('0x' || substr(md5('cal:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS p,
        |         CAST(('0x' || substr(md5('coin:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
        |           < CAST(('0x' || substr(md5('cal:' || CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS y
        |  FROM orders)
        |SELECT least((p * 10) // 1000000, 9) AS bin,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |       CAST((sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS obs_pos_ppm,
        |       CAST(sum(p) AS BIGINT) // count(*) AS mean_score_ppm,
        |       CAST((sum(CASE WHEN y THEN 1 ELSE 0 END) * 1000000) // count(*)
        |         - CAST(sum(p) AS BIGINT) // count(*) AS BIGINT) AS gap_ppm
        |FROM sc GROUP BY 1""".stripMargin, HeavyScan),
    // Kappa mirror: same two rule labelers, same exact rational —
    // truncating division via remainder subtraction (HUGEINT).
    QueryDef("q_kappa", qKappa,
      """WITH lab AS (
        |  SELECT CASE WHEN n < 30 THEN 'short' WHEN n < 100 THEN 'mid' ELSE 'long' END AS a,
        |         CASE WHEN d < 25 THEN 'short' WHEN d < 60 THEN 'mid' ELSE 'long' END AS b
        |  FROM (SELECT len(ts) AS n, len(list_distinct(ts)) AS d
        |        FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |              FROM documents))),
        |cells AS (SELECT a, b, count(*) AS n FROM lab GROUP BY 1, 2),
        |ra AS (SELECT a AS c, CAST(sum(n) AS HUGEINT) AS ra FROM cells GROUP BY 1),
        |cb AS (SELECT b AS c, CAST(sum(n) AS HUGEINT) AS cb FROM cells GROUP BY 1),
        |pe AS (SELECT CAST(sum(ra.ra * cb.cb) AS HUGEINT) AS pe
        |       FROM ra JOIN cb USING (c)),
        |tot AS (SELECT CAST(sum(n) AS HUGEINT) AS t,
        |               CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS HUGEINT) AS d
        |        FROM cells)
        |SELECT CAST(t AS BIGINT) AS n, CAST(d AS BIGINT) AS n_agree,
        |  CASE WHEN t * t - pe = 0 THEN NULL
        |    ELSE CAST((((t * d - pe) * 1000000 - ((t * d - pe) * 1000000) % (t * t - pe))
        |               // (t * t - pe)) AS BIGINT) END AS kappa_ppm
        |FROM tot, pe""".stripMargin),
    // CDC mirror: the cdcChunksSqlCtes chain — identical rolling-hash
    // arithmetic, boundary residue, and slice math.
    QueryDef("q_cdc_chunks", qCdcChunks,
      s"""WITH ${graft.ops.TextAnalysis.cdcChunksSqlCtes(
            "documents", "doc_id", "text", 4, 32)}
         |SELECT doc_id, chunk_idx, n_tokens, chunk_hash
         |FROM cdc_chunks""".stripMargin, HeavyScan),
    // Tone mirror: samples rebuilt ANALYTICALLY from the planted bin
    // and the shared CosTable64 — equality certifies the engine's
    // encode→WAV→decode→DFT chain (the q_image_dhash discipline).
    QueryDef("q_audio_tone", qAudioTone, {
      val tab = graft.ops.Multimodal.cosTable64Sql
      s"""WITH ids AS (
         |  SELECT doc_id, 1 + doc_id % 8 AS k FROM documents WHERE doc_id % 11 = 0),
         |tb AS (SELECT $tab::BIGINT[] AS t),
         |smp AS (
         |  SELECT doc_id, t[(k * gs.i) % 64 + 1] AS sample, gs.i AS pos
         |  FROM ids, tb, generate_series(0, 127) gs(i)),
         |sums AS (
         |  SELECT doc_id, b.b AS bin,
         |    CAST(sum(sample * t[(b.b * pos) % 64 + 1]) AS BIGINT) AS c_sum,
         |    CAST(sum(sample * t[(b.b * pos + 48) % 64 + 1]) AS BIGINT) AS s_sum
         |  FROM smp, tb, generate_series(1, 8) b(b) GROUP BY 1, 2)
         |SELECT doc_id, bin, c_sum, s_sum,
         |       c_sum * c_sum + s_sum * s_sum AS power,
         |       c_sum * c_sum + s_sum * s_sum = max(c_sum * c_sum + s_sum * s_sum)
         |         OVER (PARTITION BY doc_id) AS dominant
         |FROM sums""".stripMargin
    }, HeavyScan),
    // CDC near-dup mirror: the cdc_chunks chain, distinct (doc,
    // hash), the same hot-chunk cap, chunk-keyed join, pre-cap
    // containment denominators.
    QueryDef("q_cdc_neardups", qCdcNeardups,
      s"""WITH ${graft.ops.TextAnalysis.cdcChunksSqlCtes(
            "documents", "doc_id", "text", 4, 16)},
         |dch AS (SELECT DISTINCT doc_id, chunk_hash FROM cdc_chunks),
         |kept AS (
         |  SELECT dch.doc_id, dch.chunk_hash FROM dch
         |  JOIN (SELECT chunk_hash FROM dch GROUP BY 1 HAVING count(*) <= 8) f
         |    USING (chunk_hash)),
         |nd AS (SELECT doc_id, count(*) AS n FROM dch GROUP BY 1),
         |p AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(count(*) AS BIGINT) AS n_shared
         |  FROM kept a JOIN kept b
         |    ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT p.id_a, p.id_b, p.n_shared,
         |       (p.n_shared * 1000000) // least(na.n, nb.n) AS containment_ppm
         |FROM p JOIN nd na ON na.doc_id = p.id_a
         |       JOIN nd nb ON nb.doc_id = p.id_b""".stripMargin),
    // Video-frame mirror: the SAME analytic dHash chain instantiated
    // at frame keys video·10 + f (sampled every 2nd frame).
    QueryDef("q_video_frames", qVideoFrames,
      s"""WITH ${imageDhashCtesFor(
            """SELECT doc_id * 10 + gs.f AS img_id
              |    FROM documents, generate_series(0, 8) gs(f)
              |    WHERE doc_id % 13 = 0 AND gs.f < 4 + doc_id % 5
              |      AND gs.f % 2 = 0""".stripMargin)}
         |SELECT i.img_id // 10 AS doc_id, i.img_id % 10 AS frame_idx,
         |  CAST(36 AS INT) AS width, CAST(32 AS INT) AS height,
         |  CAST(coalesce(a.d0, 0) AS BIGINT) AS d0,
         |  CAST(coalesce(a.d1, 0) AS BIGINT) AS d1
         |FROM imgids i LEFT JOIN agg a ON a.id = i.img_id""".stripMargin),
    // Modularity mirror: the LPA CTE chain, then the same
    // (2m·W − Σd²)/(2m)² rational in HUGEINT.
    QueryDef("q_modularity", qModularity,
      s"""WITH ${lpaOracleCtes(4)},
         |lab AS (SELECT id, lbl FROM lab4),
         |je AS (
         |  SELECT ls.lbl AS cs, ld.lbl AS cd
         |  FROM edges e JOIN lab ls ON e.src = ls.id
         |               JOIN lab ld ON e.dst = ld.id),
         |w AS (SELECT CAST(count(*) AS HUGEINT) AS two_m,
         |             CAST(sum(CASE WHEN cs = cd THEN 1 ELSE 0 END) AS HUGEINT) AS wi
         |      FROM je),
         |dsq AS (SELECT CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS ds,
         |               count(*) AS nc
         |        FROM (SELECT cs, count(*) AS d FROM je GROUP BY 1)),
         |nn AS (SELECT count(*) AS n FROM lab)
         |SELECT nn.n AS n_nodes, dsq.nc AS n_communities,
         |  CAST(two_m // 2 AS BIGINT) AS m_edges, CAST(wi AS BIGINT) AS w_internal,
         |  CAST(((two_m * wi - ds) * 1000000 - ((two_m * wi - ds) * 1000000) % (two_m * two_m))
         |       // (two_m * two_m) AS BIGINT) AS q_ppm
         |FROM w, dsq, nn""".stripMargin),
    // K-anonymity mirror: two hash aggs, identical acctbal banding.
    QueryDef("q_k_anonymity", qKAnonymity,
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |         CAST(floor(c_acctbal / 100) AS BIGINT) AS band,
        |         count(*) AS sz
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT CAST(sz AS BIGINT) AS class_size,
        |       CAST(count(*) AS BIGINT) AS n_classes,
        |       CAST(count(*) * sz AS BIGINT) AS n_rows,
        |       sz < 5 AS risky
        |FROM cls GROUP BY sz""".stripMargin),
    // ACF mirror: identical integer series (floor-div revenue ×
    // planted weekly factor), self-join on the shifted index, then
    // the q_corr HUGEINT correlation math per lag.
    QueryDef("q_autocorr", qAutocorr,
      s"""WITH $DailySeriesCtes,
        |lags AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7, 14]) AS lag),
        |pairs AS (
        |  SELECT l.lag, a.x AS xc, b.x AS xl
        |  FROM ser a CROSS JOIN lags l JOIN ser b ON a.t = b.t + l.lag),
        |st AS (
        |  SELECT lag, count(*) AS n,
        |         sum(CAST(xc AS HUGEINT)) AS sx, sum(CAST(xl AS HUGEINT)) AS sy,
        |         sum(CAST(xc AS HUGEINT) * xl) AS sxy,
        |         sum(CAST(xc AS HUGEINT) * xc) AS sxx,
        |         sum(CAST(xl AS HUGEINT) * xl) AS syy
        |  FROM pairs GROUP BY 1),
        |fin AS (
        |  SELECT lag, n, n * sxy - sx * sy AS num,
        |         n * sxx - sx * sx AS den1, n * syy - sy * sy AS den2
        |  FROM st)
        |SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN den1 = 0 OR den2 = 0 THEN NULL
        |       ELSE CAST((1000000 * num * num) // (den1 * den2) AS BIGINT) END AS r2_ppm,
        |  CASE WHEN den1 = 0 OR den2 = 0 THEN NULL
        |       ELSE CAST(sign(num) AS INT) END AS corr_sign
        |FROM fin""".stripMargin),
    // Winsorize mirror: identical rank math (ceil(pct·n/100)-th
    // smallest under the same (val, id) tie order), BIGINT clamps.
    QueryDef("q_winsorize", qWinsorize,
      """WITH v AS (
        |  SELECT c_mktsegment, c_custkey,
        |         CAST(floor(c_acctbal * 100) AS BIGINT) AS val
        |  FROM customer),
        |rk AS (
        |  SELECT c_mktsegment, val,
        |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY val, c_custkey) AS rk,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM v),
        |cuts AS (
        |  SELECT c_mktsegment, max(n) AS n,
        |    max(CASE WHEN rk = (n * 5 + 99) // 100 THEN val END) AS lo,
        |    max(CASE WHEN rk = (n * 95 + 99) // 100 THEN val END) AS hi
        |  FROM rk GROUP BY 1)
        |SELECT c.c_mktsegment, CAST(c.n AS BIGINT) AS n, c.lo, c.hi,
        |  CAST(sum(CASE WHEN r.val < c.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
        |  CAST(sum(CASE WHEN r.val > c.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi,
        |  CAST(sum(greatest(least(r.val, c.hi), c.lo)) AS BIGINT) AS sum_winsorized
        |FROM rk r JOIN cuts c USING (c_mktsegment)
        |GROUP BY 1, 2, 3, 4""".stripMargin),
    // Both strategies' batch layouts are pure functions of the data
    // (row_number over a total order); all costs are BIGINT.
    QueryDef("q_length_batches", qLengthBatches,
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |s AS (
        |  SELECT 'length_sorted' AS strategy,
        |    (row_number() OVER (ORDER BY n_tok, doc_id) - 1) // 16 AS batch_id, n_tok
        |  FROM d
        |  UNION ALL
        |  SELECT 'arrival', (row_number() OVER (ORDER BY doc_id) - 1) // 16, n_tok
        |  FROM d)
        |SELECT strategy, batch_id, CAST(count(*) AS BIGINT) AS n_seqs,
        |  max(n_tok) AS max_len, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
        |  CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste
        |FROM s GROUP BY 1, 2""".stripMargin),
    // The oracle rebuilds the 4×64 sketch with the same row-salted
    // md5 buckets; estimates are min-over-rows of exact BIGINT cells.
    QueryDef("q_cms", qCms, {
      def arms(keyExpr: String) = (0 until 4).map(r =>
        s"WHEN gs.r = $r THEN ${graft.ops.Sketches.cmsBucketSql(keyExpr, r, 64)}")
        .mkString("CASE ", " ", " END")
      s"""WITH toks AS (
         |  SELECT u.tok
         |  FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts
         |        FROM documents), unnest(ts) AS u(tok)),
         |cells AS (
         |  SELECT gs.r AS row, ${arms("tok")} AS bucket, count(*) AS cnt
         |  FROM toks, generate_series(0, 3) gs(r) GROUP BY 1, 2),
         |probe AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS true_n
         |  FROM toks GROUP BY 1 HAVING count(*) >= 50),
         |pe AS (
         |  SELECT p.tok, p.true_n, gs.r AS row, ${arms("p.tok")} AS bucket
         |  FROM probe p, generate_series(0, 3) gs(r)),
         |j AS (
         |  SELECT pe.tok, pe.true_n, coalesce(c.cnt, 0) AS cnt
         |  FROM pe LEFT JOIN cells c ON c.row = pe.row AND c.bucket = pe.bucket)
         |SELECT tok, true_n, CAST(min(cnt) AS BIGINT) AS est_n,
         |       CAST(min(cnt) AS BIGINT) - true_n AS err
         |FROM j GROUP BY 1, 2""".stripMargin
    }),
    // System = hamming ranking, truth = int8 ranking; gains are the
    // SAME Scala-computed literals Similarity.retrievalEval uses.
    QueryDef("q_ndcg", qNdcg, {
      val dot = (1 to EmbDim).map(i => s"q.qc[$i] * e.codes[$i]").mkString(" + ")
      s"""WITH sig AS (
         |  SELECT vec_id,
         |    ${graft.ops.Similarity.signWordSql("embedding", 0, EmbDim)} AS sig0,
         |    ${graft.ops.Similarity.signWordSql("embedding", 1, EmbDim)} AS sig1
         |  FROM embeddings),
         |hq AS (SELECT vec_id AS query_id, sig0 AS q0, sig1 AS q1 FROM sig WHERE vec_id < 5),
         |hsc AS (
         |  SELECT hq.query_id, s.vec_id AS neighbor_id,
         |    bit_count(xor(hq.q0, s.sig0)) + bit_count(xor(hq.q1, s.sig1)) AS hamming
         |  FROM hq CROSS JOIN sig s WHERE s.vec_id <> hq.query_id),
         |sys AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rank
         |  FROM hsc QUALIFY rank <= 5),
         |st AS (
         |  SELECT gs.i AS pos,
         |    min(CAST(embedding[gs.i] AS DOUBLE)) AS lo,
         |    max(CAST(embedding[gs.i] AS DOUBLE)) AS hi
         |  FROM embeddings, generate_series(1, $EmbDim) gs(i) GROUP BY gs.i),
         |sl AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM st),
         |enc AS (
         |  SELECT vec_id,
         |    list_transform(generate_series(1, $EmbDim), i ->
         |      CAST(CASE WHEN sl.his[i] = sl.los[i] THEN 0
         |        ELSE least(255, floor((CAST(embedding[i] AS DOUBLE) - sl.los[i]) * 255.0
         |          / (sl.his[i] - sl.los[i])))
         |        END AS INTEGER)) AS codes
         |  FROM embeddings, sl),
         |iq AS (SELECT vec_id AS query_id, codes AS qc FROM enc WHERE vec_id < 5),
         |isc AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id, CAST($dot AS BIGINT) AS dot_q
         |  FROM iq q CROSS JOIN enc e WHERE e.vec_id <> q.query_id),
         |truth AS (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, neighbor_id) AS rank
         |  FROM isc QUALIFY rank <= 5),
         |gl AS (SELECT ${graft.ops.Similarity.ndcgGainsSql(5)}::BIGINT[] AS g),
         |tn AS (SELECT query_id, count(*) AS nt FROM truth GROUP BY 1),
         |idcg AS (
         |  SELECT tn.query_id, CAST(sum(g[s.p::INT]) AS BIGINT) AS v
         |  FROM tn, gl, UNNEST(range(1, least(nt, 5) + 1)) s(p)
         |  GROUP BY tn.query_id),
         |joined AS (
         |  SELECT s.query_id, s.rank,
         |    EXISTS (SELECT 1 FROM truth t
         |            WHERE t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id) AS rel
         |  FROM sys s),
         |per AS (
         |  SELECT j.query_id,
         |    CAST(count(*) FILTER (j.rel) AS BIGINT) AS n_hits,
         |    CAST(coalesce(sum(CASE WHEN j.rel THEN g[j.rank::INT] END), 0) AS BIGINT) AS dcg,
         |    min(CASE WHEN j.rel THEN j.rank END) AS first_hit
         |  FROM joined j, gl GROUP BY j.query_id)
         |SELECT p.query_id, p.n_hits,
         |  CAST(coalesce(1000000 // p.first_hit, 0) AS BIGINT) AS mrr_micro,
         |  CAST((1000000 * p.dcg) // i.v AS BIGINT) AS ndcg_ppm
         |FROM per p JOIN idcg i ON i.query_id = p.query_id""".stripMargin
    }),
    // num and radicand are exact shift-invariant HUGEINTs ≤ 2^53, so
    // the double conversions are exact and the z chain is ONE
    // fixed-order IEEE computation on both engines.
    QueryDef("q_zscore", qZscore,
      """WITH v AS (
        |  SELECT c_mktsegment, c_custkey,
        |         CAST(floor(c_acctbal / 10) AS BIGINT) AS x
        |  FROM customer),
        |st AS (
        |  SELECT c_mktsegment, count(*) AS n,
        |         sum(CAST(x AS HUGEINT)) AS s,
        |         sum(CAST(x AS HUGEINT) * x) AS ss
        |  FROM v GROUP BY 1)
        |SELECT v.c_mktsegment, v.c_custkey, v.x,
        |  CASE WHEN st.n * st.ss - st.s * st.s = 0 THEN NULL
        |       ELSE CAST(floor(CAST(v.x * st.n - st.s AS DOUBLE) /
        |                       sqrt(CAST(st.n * st.ss - st.s * st.s AS DOUBLE))
        |                       * 1000000) AS BIGINT) END AS z_ppm
        |FROM v JOIN st USING (c_mktsegment)""".stripMargin),
    // Stupid backoff: seen bigram → ln(c2/c1); else α=2/5 carried as a
    // rational so every score is ln of ONE integer-over-integer double
    // division — identical IEEE chain on both engines, micro-nat
    // floors before the BIGINT sum (the q_lm_score discipline).
    QueryDef("q_lm_bigram", qLmBigram,
      """WITH reft AS (
        |  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents WHERE doc_id % 10 < 8),
        |uni AS (SELECT u.tok, count(*) AS c FROM reft, unnest(ts) AS u(tok) GROUP BY 1),
        |big AS (
        |  SELECT ts[k] AS a, ts[k + 1] AS b, count(*) AS c2
        |  FROM reft, UNNEST(range(1, len(ts))) AS t(k) GROUP BY 1, 2),
        |st AS (SELECT CAST(sum(c) AS BIGINT) AS total, count(*) AS v FROM uni),
        |d AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |  FROM documents),
        |firsts AS (SELECT doc_id, ts[1] AS w FROM d WHERE len(ts) >= 1),
        |pairs AS (
        |  SELECT doc_id, ts[k] AS a, ts[k + 1] AS b
        |  FROM d, UNNEST(range(1, len(ts))) AS t(k)),
        |fsc AS (
        |  SELECT f.doc_id,
        |    CAST(floor(ln(CAST(coalesce(u.c, 0) + 1 AS DOUBLE) /
        |                  CAST(st.total + st.v AS DOUBLE)) * 1000000) AS BIGINT) AS unat,
        |    0 AS hit
        |  FROM firsts f LEFT JOIN uni u ON f.w = u.tok, st),
        |psc AS (
        |  SELECT p.doc_id,
        |    CASE WHEN bg.c2 IS NOT NULL
        |         THEN CAST(floor(ln(CAST(bg.c2 AS DOUBLE) /
        |                            CAST(ua.c AS DOUBLE)) * 1000000) AS BIGINT)
        |         ELSE CAST(floor(ln(CAST(2 * (coalesce(ub.c, 0) + 1) AS DOUBLE) /
        |                            CAST(5 * (st.total + st.v) AS DOUBLE)) * 1000000) AS BIGINT)
        |    END AS unat,
        |    CASE WHEN bg.c2 IS NOT NULL THEN 1 ELSE 0 END AS hit
        |  FROM pairs p
        |  LEFT JOIN big bg ON p.a = bg.a AND p.b = bg.b
        |  LEFT JOIN uni ua ON p.a = ua.tok
        |  LEFT JOIN uni ub ON p.b = ub.tok, st)
        |SELECT doc_id, count(*) AS n_tokens, CAST(sum(hit) AS BIGINT) AS n_bigram_hits,
        |       CAST(sum(unat) AS BIGINT) AS logprob_unat
        |FROM (SELECT * FROM fsc UNION ALL SELECT * FROM psc) GROUP BY 1""".stripMargin),
    // Per-token JSD terms floored to pico-nats before the BIGINT sum;
    // x/y are each ONE double division from exact integers, and the
    // (x+x)/(x+y) spelling is shared verbatim with the Spark side.
    QueryDef("q_js_drift", qJsDrift,
      """WITH ta0 AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id % 10 < 8),
        |ca AS (SELECT tok, count(*) AS c FROM ta0 WHERE tok <> '' GROUP BY 1),
        |tb0 AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id % 10 >= 8),
        |cb AS (SELECT tok, count(*) AS c FROM tb0 WHERE tok <> '' GROUP BY 1),
        |sa AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ca),
        |sb AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cb),
        |j AS (SELECT ca.c AS a, cb.c AS b FROM ca FULL OUTER JOIN cb USING (tok)),
        |vals AS (
        |  SELECT a, b,
        |    CAST(coalesce(a, 0) AS DOUBLE) / CAST(sa.t AS DOUBLE) AS x,
        |    CAST(coalesce(b, 0) AS DOUBLE) / CAST(sb.t AS DOUBLE) AS y
        |  FROM j, sa, sb),
        |terms AS (
        |  SELECT a, b,
        |    CASE WHEN coalesce(a, 0) > 0
        |         THEN CAST(floor(x * ln((x + x) / (x + y)) * 1e12) AS BIGINT)
        |         ELSE 0 END AS t1,
        |    CASE WHEN coalesce(b, 0) > 0
        |         THEN CAST(floor(y * ln((y + y) / (x + y)) * 1e12) AS BIGINT)
        |         ELSE 0 END AS t2
        |  FROM vals)
        |SELECT CAST(sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_types_a,
        |       CAST(sum(CASE WHEN b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_types_b,
        |       CAST(sum(CASE WHEN a IS NOT NULL AND b IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_common,
        |       CAST(sum(t1 + t2) AS BIGINT) AS jsd2_pnat
        |FROM terms""".stripMargin),
    // BPE training mirror: wf/w0 seed the doubled-separator symbol
    // strings, then Bpe.bpeSql unrolls the identical 12 merge rounds
    // (pair count → argmax → single literal replace) as chained CTEs.
    // q_bpe trains EAGERLY (driver-side merge loop over actions), so its
    // returned frame no longer contains the corpus scan — its guard
    // lives in bpeWords, the same code path q_bpe_encode's lazy plan
    // exposes to the registry spec.
    QueryDef("q_bpe", qBpe,
      s"""WITH wf AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE word <> '' GROUP BY 1),
         |w0 AS MATERIALIZED (
         |  SELECT word, freq,
         |    chr(31) || chr(31) ||
         |      regexp_replace(word, '(.)', '\\1' || chr(31) || chr(31), 'g') AS sym
         |  FROM wf),
         |${graft.ops.Bpe.bpeSql(BpeMergeRounds)}""".stripMargin),
    // Fertility mirror: the same training CTEs to the final
    // segmentation, then the pieces-per-word histogram in exact
    // integers (character length semantics match: both engines count
    // codepoints).
    QueryDef("q_bpe_stats", qBpeStats,
      s"""WITH wf AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE word <> '' GROUP BY 1),
         |w0 AS MATERIALIZED (
         |  SELECT word, freq,
         |    chr(31) || chr(31) ||
         |      regexp_replace(word, '(.)', '\\1' || chr(31) || chr(31), 'g') AS sym
         |  FROM wf),
         |${graft.ops.Bpe.bpeSqlRounds(BpeMergeRounds)},
         |seg AS (
         |  SELECT word, freq,
         |    list_filter(string_split(sym, chr(31)), x -> x <> '') AS pieces
         |  FROM w$BpeMergeRounds)
         |SELECT CAST(len(pieces) AS BIGINT) AS n_pieces,
         |  CAST(count(*) AS BIGINT) AS n_word_types,
         |  CAST(sum(freq) AS BIGINT) AS n_word_occurrences,
         |  CAST(sum(length(word) * freq) AS BIGINT) AS n_chars_occurrences
         |FROM seg GROUP BY 1""".stripMargin),
    // Encoding mirror: the same training CTEs, then word-position
    // explode (positions keep gaps where empty words were filtered,
    // matching posexplode-then-filter), segmentation join, piece
    // explode, and a row_number piece vocabulary over sorted distinct
    // pieces (≡ denseIdsBy's 1-based dense numbering).
    QueryDef("q_bpe_encode", qBpeEncode,
      s"""WITH wf AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE word <> '' GROUP BY 1),
         |w0 AS MATERIALIZED (
         |  SELECT word, freq,
         |    chr(31) || chr(31) ||
         |      regexp_replace(word, '(.)', '\\1' || chr(31) || chr(31), 'g') AS sym
         |  FROM wf),
         |${graft.ops.Bpe.bpeSqlRounds(BpeMergeRounds)},
         |seg AS MATERIALIZED (
         |  SELECT word, list_filter(string_split(sym, chr(31)), x -> x <> '') AS pieces
         |  FROM w$BpeMergeRounds),
         |vocab AS (
         |  SELECT piece, CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS piece_id
         |  FROM (SELECT DISTINCT unnest(pieces) AS piece FROM seg)),
         |dw AS (
         |  SELECT doc_id, CAST(j AS BIGINT) AS word_pos, w[j] AS word
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |       unnest(generate_series(1, len(w))) AS t(j)
         |  WHERE w[j] <> ''),
         |pe AS (
         |  SELECT x.doc_id, x.word_pos, CAST(j AS BIGINT) AS piece_pos,
         |         x.pieces[j] AS piece
         |  FROM (SELECT dw.doc_id, dw.word_pos, seg.pieces
         |        FROM dw JOIN seg USING (word)) x,
         |       unnest(generate_series(1, len(x.pieces))) AS t(j))
         |SELECT pe.doc_id, pe.word_pos, pe.piece_pos, pe.piece, v.piece_id
         |FROM pe JOIN vocab v USING (piece)""".stripMargin, HeavyScan),
    // Unigram-LM training mirror: uw is the SAME word-frequency CTE as
    // the BPE family plus the maxWordLen policy filter; trainSqlRounds
    // unrolls the identical seed → EM → prune → EM schedule with the
    // Viterbi DP one chained CTE per character position; the trace
    // union hashes every model state.
    // q_unigram_lm trains eagerly like q_bpe (localCheckpoint-fenced EM
    // rounds) — its guard lives in bpeWords via the same scan helper the
    // lazy q_unigram_encode plan exposes to the registry spec.
    QueryDef("q_unigram_lm", qUnigramLm,
      s"""WITH uw AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE word <> '' AND len(word) <= $UnigramMaxWordLen GROUP BY 1),
         |${graft.ops.Unigram.trainSqlRounds("uw", UnigramMaxPieceLen,
              UnigramSeedMultiChar, UnigramKeepMultiChar, UnigramEmBefore,
              UnigramEmAfter, UnigramMaxWordLen)}
         |${graft.ops.Unigram.traceSelectSql(UnigramEmBefore, UnigramEmAfter)}""".stripMargin),
    // Unigram encode mirror: the training CTEs, ONE more Viterbi DP
    // under the final vocabulary v4 (u4seg segments under v3 — the
    // M-step input, not the final model), then the q_bpe_encode
    // word-position/piece-position explode pattern. Failure-semantics
    // mirror (round-15 ADVICE): a corpus word LONGER than
    // UnigramMaxWordLen is absent from encseg (the training policy
    // filter), so the `dw JOIN encseg` below would silently drop it
    // while Spark's bpeEncode raise_errors on the unknown word — the
    // CASE makes DuckDB refuse identically, per offending word.
    QueryDef("q_unigram_encode", qUnigramEncode, {
      val lastV = s"v${UnigramEmBefore + 1 + UnigramEmAfter}"
      s"""WITH uw AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE word <> '' AND len(word) <= $UnigramMaxWordLen GROUP BY 1),
         |${graft.ops.Unigram.trainSqlRounds("uw", UnigramMaxPieceLen,
              UnigramSeedMultiChar, UnigramKeepMultiChar, UnigramEmBefore,
              UnigramEmAfter, UnigramMaxWordLen)},
         |${graft.ops.Unigram.viterbiSqlRounds("enc", "uw", lastV,
              UnigramMaxPieceLen, UnigramMaxWordLen)},
         |dw AS (
         |  SELECT doc_id, CAST(j AS BIGINT) AS word_pos,
         |    CASE WHEN len(w[j]) > $UnigramMaxWordLen
         |         THEN error('q_unigram_encode: word exceeds UnigramMaxWordLen ($UnigramMaxWordLen), absent from trained segmentation: ' || w[j])
         |         ELSE w[j] END AS word
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |       unnest(generate_series(1, len(w))) AS t(j)
         |  WHERE w[j] <> '')
         |SELECT x.doc_id, x.word_pos, CAST(j AS BIGINT) AS piece_pos,
         |       x.pieces[j] AS piece
         |FROM (SELECT dw.doc_id, dw.word_pos, s.pieces
         |      FROM dw JOIN encseg s USING (word)) x,
         |     unnest(generate_series(1, len(x.pieces))) AS t(j)""".stripMargin
    }, HeavyScan),
    // Unigram fertility mirror: training + one final-vocab Viterbi,
    // then the q_bpe_stats histogram select over encseg.
    QueryDef("q_unigram_stats", qUnigramStats, {
      val lastV = s"v${UnigramEmBefore + 1 + UnigramEmAfter}"
      s"""WITH uw AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE word <> '' AND len(word) <= $UnigramMaxWordLen GROUP BY 1),
         |${graft.ops.Unigram.trainSqlRounds("uw", UnigramMaxPieceLen,
              UnigramSeedMultiChar, UnigramKeepMultiChar, UnigramEmBefore,
              UnigramEmAfter, UnigramMaxWordLen)},
         |${graft.ops.Unigram.viterbiSqlRounds("enc", "uw", lastV,
              UnigramMaxPieceLen, UnigramMaxWordLen)}
         |SELECT CAST(len(pieces) AS BIGINT) AS n_pieces,
         |  CAST(count(*) AS BIGINT) AS n_word_types,
         |  CAST(sum(freq) AS BIGINT) AS n_word_occurrences,
         |  CAST(sum(length(word) * freq) AS BIGINT) AS n_chars_occurrences
         |FROM encseg GROUP BY 1""".stripMargin
    }),
    // BPE→packing composition: the encode mirror's piece stream
    // aggregated per doc, then the q_pack_chunks cumsum/floor-div.
    QueryDef("q_pack_bpe", qPackBpe,
      s"""WITH wf AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE word <> '' GROUP BY 1),
         |w0 AS MATERIALIZED (
         |  SELECT word, freq,
         |    chr(31) || chr(31) ||
         |      regexp_replace(word, '(.)', '\\1' || chr(31) || chr(31), 'g') AS sym
         |  FROM wf),
         |${graft.ops.Bpe.bpeSqlRounds(BpeMergeRounds)},
         |seg AS MATERIALIZED (
         |  SELECT word, list_filter(string_split(sym, chr(31)), x -> x <> '') AS pieces
         |  FROM w$BpeMergeRounds),
         |dw AS (
         |  SELECT doc_id, w[j] AS word
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |       unnest(generate_series(1, len(w))) AS t(j)
         |  WHERE w[j] <> ''),
         |cnt AS (
         |  SELECT x.doc_id, CAST(sum(len(x.pieces)) AS BIGINT) AS n_pieces
         |  FROM (SELECT dw.doc_id, seg.pieces FROM dw JOIN seg USING (word)) x
         |  GROUP BY 1),
         |wl AS (
         |  SELECT d.lang, d.doc_id, c.n_pieces
         |  FROM documents d JOIN cnt c USING (doc_id)),
         |cum AS (
         |  SELECT lang, doc_id, n_pieces,
         |         CAST(sum(n_pieces) OVER (PARTITION BY lang ORDER BY doc_id
         |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |           - n_pieces AS s_before
         |  FROM wl)
         |SELECT lang, doc_id, n_pieces,
         |       s_before // 2048 AS chunk,
         |       s_before % 2048 AS chunk_offset
         |FROM cum""".stripMargin),
    // Per-epoch md5 permutation: same (epoch || chr(1) || key) hash,
    // row_number per epoch over (hash, key) ≡ denseIdsBy's global
    // numbering minus the epoch base.
    QueryDef("q_epoch_shuffle", qEpochShuffle,
      """SELECT doc_id, CAST(epoch AS INTEGER) AS epoch,
        |       CAST(row_number() OVER (PARTITION BY epoch
        |              ORDER BY md5(CAST(epoch AS VARCHAR) || chr(1) || CAST(doc_id AS VARCHAR)),
        |                       CAST(doc_id AS VARCHAR)) AS BIGINT) AS pos
        |FROM documents, unnest(generate_series(1, 3)) AS e(epoch)""".stripMargin),
    // The split QA row composes q_split's md5 bucket, q_js_drift's
    // floored-term JSD, and q_chi_square's closed-form missing-cell
    // chi-square over ONE shared split CTE.
    QueryDef("q_corpus_split_qa", qCorpusSplitQa,
      """WITH sp AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN b < 900 THEN 'train' WHEN b < 950 THEN 'valid' ELSE 'test' END AS split
        |  FROM (SELECT doc_id, lang, text,
        |          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS b
        |        FROM documents)),
        |ta0 AS (SELECT unnest(string_split(text, ' ')) AS tok FROM sp WHERE split = 'train'),
        |ca AS (SELECT tok, count(*) AS c FROM ta0 WHERE tok <> '' GROUP BY 1),
        |tb0 AS (SELECT unnest(string_split(text, ' ')) AS tok FROM sp WHERE split = 'valid'),
        |cb AS (SELECT tok, count(*) AS c FROM tb0 WHERE tok <> '' GROUP BY 1),
        |sa AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ca),
        |sb AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cb),
        |j AS (SELECT ca.c AS a, cb.c AS b FROM ca FULL OUTER JOIN cb USING (tok)),
        |vals AS (
        |  SELECT a, b,
        |    CAST(coalesce(a, 0) AS DOUBLE) / CAST(sa.t AS DOUBLE) AS x,
        |    CAST(coalesce(b, 0) AS DOUBLE) / CAST(sb.t AS DOUBLE) AS y
        |  FROM j, sa, sb),
        |terms AS (
        |  SELECT a, b,
        |    CASE WHEN coalesce(a, 0) > 0
        |         THEN CAST(floor(x * ln((x + x) / (x + y)) * 1e12) AS BIGINT)
        |         ELSE 0 END AS t1,
        |    CASE WHEN coalesce(b, 0) > 0
        |         THEN CAST(floor(y * ln((y + y) / (x + y)) * 1e12) AS BIGINT)
        |         ELSE 0 END AS t2
        |  FROM vals),
        |jsd AS (
        |  SELECT CAST(sum(CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_types_a,
        |         CAST(sum(CASE WHEN b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_types_b,
        |         CAST(sum(CASE WHEN a IS NOT NULL AND b IS NOT NULL THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_common,
        |         CAST(sum(t1 + t2) AS BIGINT) AS jsd2_pnat
        |  FROM terms),
        |cells AS (
        |  SELECT split AS ka, lang AS kb, count(*) AS o
        |  FROM sp GROUP BY 1, 2),
        |ra AS (SELECT ka, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
        |cbx AS (SELECT kb, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(o) AS HUGEINT) AS t,
        |         count(DISTINCT ka) AS na, count(DISTINCT kb) AS nb
        |  FROM cells),
        |jn AS (
        |  SELECT cells.o, tot.t, tot.na, tot.nb,
        |         CAST(ra.r AS HUGEINT) * cbx.c AS rc
        |  FROM cells JOIN ra USING (ka) JOIN cbx USING (kb), tot),
        |trm AS (
        |  SELECT o, rc, t, na, nb,
        |    CAST(((CAST(o AS HUGEINT) * t - rc) * (CAST(o AS HUGEINT) * t - rc)
        |          * 1000000) // (t * rc) AS BIGINT) AS term
        |  FROM jn),
        |agg AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS n_rows, max(na) AS n_a, max(nb) AS n_b,
        |         max(t) AS t, CAST(sum(term) AS BIGINT) AS obs_terms,
        |         sum(rc) AS obs_rc
        |  FROM trm),
        |chi AS (
        |  SELECT n_rows, n_a, n_b,
        |         CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof,
        |         obs_terms + CAST(((t * t - obs_rc) * 1000000) // t AS BIGINT)
        |           AS chi2_micro
        |  FROM agg)
        |SELECT jsd.*, chi.* FROM jsd, chi""".stripMargin),
    // The incremental read must return EXACTLY batch 2 (and nothing
    // after the commit), so the oracle aggregates the batch-2 predicate
    // directly against the base table.
    QueryDef("q_incr_read", qIncrRead,
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(floor(o_totalprice)) AS BIGINT) AS sum_floor_price,
        |       CAST(0 AS BIGINT) AS n_after_commit
        |FROM orders WHERE o_orderkey % 4 >= 2 GROUP BY 1""".stripMargin),
    // The sharded read must return batch 2 everywhere PLUS batch 1 in
    // the two partitions whose ledgers were never committed.
    QueryDef("q_incr_part", qIncrPart,
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |       CAST(sum(floor(o_totalprice)) AS BIGINT) AS sum_floor_price,
        |       CAST(0 AS BIGINT) AS n_after_commit
        |FROM orders
        |WHERE o_orderkey % 4 >= 2
        |   OR (o_orderkey % 4 < 2 AND
        |       (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%'))
        |GROUP BY 1""".stripMargin),
    // r² as an exact HUGEINT rational; only the final ppm quotient
    // truncates (non-negative operands, so // ≡ div).
    QueryDef("q_corr", qCorr,
      """WITH cnt AS (
        |  SELECT l_orderkey AS o_orderkey, count(*) AS n_items
        |  FROM lineitem GROUP BY 1),
        |v AS (
        |  SELECT o_orderpriority,
        |         CAST(floor(o_totalprice / 1000) AS BIGINT) AS x,
        |         CAST(n_items AS BIGINT) AS y
        |  FROM orders JOIN cnt USING (o_orderkey)),
        |st AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |         sum(CAST(x AS HUGEINT) * y) AS sxy,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx,
        |         sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM v GROUP BY 1),
        |fin AS (
        |  SELECT o_orderpriority, n,
        |         n * sxy - sx * sy AS num,
        |         n * sxx - sx * sx AS den1, n * syy - sy * sy AS den2
        |  FROM st)
        |SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
        |  CASE WHEN den1 = 0 OR den2 = 0 THEN NULL
        |       ELSE CAST((1000000 * num * num) // (den1 * den2) AS BIGINT) END
        |    AS r2_ppm,
        |  CASE WHEN den1 = 0 OR den2 = 0 THEN NULL
        |       ELSE CAST(sign(num) AS INT) END AS corr_sign
        |FROM fin""".stripMargin),
  )

  /** DuckDB mirror of [[qBfs]]: the identical frontier expansion —
    * union the previous distance table with (edge-join, dist+1), take
    * the per-node min — one CTE pair per round.
    */
  private def bfsOracle(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, d.dist + 1 AS dist
         |    FROM d${i - 1} d JOIN edges e ON d.id = e.src) GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT l_orderkey AS a, -l_suppkey AS b FROM lineitem),
       |edges AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
       |d0 AS (SELECT DISTINCT -s_suppkey AS id, CAST(0 AS BIGINT) AS dist
       |       FROM supplier WHERE s_suppkey <= 5),
       |$rs
       |SELECT id, dist FROM d$rounds""".stripMargin
  }
}
