package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Murmur3Hash, Sequence, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.QueryTag.{HeavyScan, HeavyScanAdjudicated}
import graft.util.Parallelism

/** Contract of [[graft.util.Parallelism.ensure]] — the one mechanism
  * guarding compute-heavy stages against under-parallel scan layouts
  * (applied at the fact-table scan helper since r13).
  */
class ParallelismSpec extends SparkSpec {

  private def repartitions(df: DataFrame): Int =
    df.queryExecution.logical.collect { case r: RepartitionOperation => r }.size

  private def writeSingleFile(rows: Int): String = {
    val dir = tempDir("graft_par_spec").toString
    import spark.implicits._
    (1 to rows).map(i => (i.toLong, s"v$i" * 8)).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  test("ensure fires on a small single-file scan and is IDEMPOTENT (no stacked shuffles)") {
    val dir = writeSingleFile(2000)
    val df = spark.read.parquet(dir)
    val once = Parallelism.ensure(df)
    assert(repartitions(once) == 1, "under-parallel single-file scan must repartition")
    assert(once.rdd.getNumPartitions == 4)
    // Operator-internal ensure on an already-ensured frame (and on a
    // projection of one) must not stack a second full shuffle.
    assert(Parallelism.ensure(once) eq once)
    val projected = Parallelism.ensure(once.select("id"))
    assert(repartitions(projected) == 1)
  }

  test("every HeavyScan-tagged query carries the repartition guard") {
    // The registry IS the mechanism (VERDICT r12 item 7): compute-heavy
    // fact-scan queries are tagged HeavyScan in SparkEntry.registry
    // and this test asserts each one's plan carries a repartition
    // guard when built over the driver's single-file sf0.001 tables —
    // so a new heavy query without its `ensure` fails here, not in an
    // sf1 bench three rounds later. (A blanket scan-helper repartition
    // was measured and rejected: it cannot parallelize the scan itself
    // and taxes every scan→shuffle query — see the t() scaladoc.)
    val dir = "/root/testdata/sf0.001"
    val heavy = SparkEntry.registry.filter(_.tags.contains(HeavyScan))
    assert(heavy.nonEmpty)
    heavy.foreach { q =>
      val guards = q.build(spark, dir).queryExecution.logical.collect { case r: RepartitionOperation => r }
      assert(guards.nonEmpty,
        s"${q.name} is registered compute-heavy but its plan has no repartition guard")
    }
  }

  test("idempotency counts ONLY shuffling round-robin repartitions (coalesce / keyed don't disable the guard)") {
    val dir = writeSingleFile(2000)
    // coalesce(>= target) can only REDUCE partitions; a keyed
    // repartition collapses under key skew — neither may satisfy the
    // guard (round-14 advice fix: both used to).
    val co = spark.read.parquet(dir).coalesce(8)
    assert(repartitions(Parallelism.ensure(co)) == 2,
      "coalesce in the plan must not count as ensured")
    val keyed = spark.read.parquet(dir).repartition(8, org.apache.spark.sql.functions.col("id"))
    assert(Parallelism.ensure(keyed).queryExecution.logical.collect {
      case r: Repartition if r.shuffle => r
    }.size == 1, "keyed repartition must not count as ensured")
  }

  /** Heavy-kernel detector (round-14 negative control): walk a query's
    * ANALYZED plan; for every node whose expressions contain a heavy
    * per-row kernel — xxhash64/murmur3 hashing, or a gram/shingle
    * builder (transform/sequence position fan-out) — descend its
    * inputs through narrow operators only. Reaching a file scan
    * WITHOUT crossing a repartition or a shuffle-producing operator
    * (whose output parallelism is shuffle.partitions regardless of
    * layout) means the kernel inherits raw scan parallelism: the exact
    * shape the sf1 v8 single-file layout serialized. Such a query must
    * be tagged [[QueryTag.HeavyScan]] (whose guard presence the
    * registry test above asserts).
    */
  private def isHeavy(e: Expression): Boolean = e match {
    case _: XxHash64 | _: Murmur3Hash | _: Sequence => true
    case _ => e.children.exists(isHeavy)
  }

  private def unguardedHeavyScan(plan: LogicalPlan): Boolean = {
    def scanReachableNarrow(p: LogicalPlan): Boolean = p match {
      case _: RepartitionOperation => false // guarded below here
      case _: Aggregate | _: Join | _: Window | _: Sort | _: Deduplicate => false
      case _: LogicalRelation => true
      case other => other.children.exists(scanReachableNarrow)
    }
    plan.collectFirst {
      case node if node.expressions.exists(isHeavy) &&
        node.children.exists(scanReachableNarrow) => node
    }.isDefined
  }

  test("negative control: a heavy kernel over an unguarded fact scan is DETECTED (fixture) and none exist outside the registry") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // Deliberately-unguarded fixture: tokenize+hash straight off the
    // scan — the detector must flag it…
    val bad = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t"))
      .select(xxhash64(col("t")).as("h"))
      .groupBy("h").count()
    assert(unguardedHeavyScan(bad.queryExecution.analyzed),
      "detector missed the deliberately-unguarded fixture query")
    // …and the same query with the ensure guard must pass clean.
    val good = Parallelism.ensure(spark.read.parquet(s"$dir/documents.parquet"))
      .select(explode(split(col("text"), " ")).as("t"))
      .select(xxhash64(col("t")).as("h"))
      .groupBy("h").count()
    assert(!unguardedHeavyScan(good.queryExecution.analyzed),
      "detector flagged the guarded twin")
    // Sweep: every registered query with an unguarded heavy scan-fed
    // kernel must be tagged — a forgotten guard fails HERE, not in the
    // next sf1 bench.
    val offenders = SparkEntry.registry.sortBy(_.name)
      .filterNot(_.tags.exists {
        case HeavyScan | HeavyScanAdjudicated(_) => true
        case _ => false
      })
      .filter(q => unguardedHeavyScan(q.build(spark, dir).queryExecution.analyzed))
      .map(_.name)
    assert(offenders.isEmpty,
      s"heavy scan-fed kernels not tagged HeavyScan (guard them or adjudicate): $offenders")
  }

  test("ensure is a no-op when the byte-split estimate already reaches target parallelism") {
    // A single LARGE file is not an under-parallel layout: Spark chops
    // splittable sources into maxSplitBytes pieces. Model 'large'
    // relative to a lowered openCost rather than writing a 12 MB
    // fixture: with openCost 1 KB, a ~100 KB file splits ≥ 4 ways
    // (bytes/defaultParallelism governs), so no repartition — while
    // the default 4 MB openCost makes the same file estimate as 1
    // split, so repartition fires.
    val dir = writeSingleFile(20000)
    val key = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1024")
      assert(repartitions(Parallelism.ensure(spark.read.parquet(dir))) == 0,
        "multi-split single file must not pay a repartition shuffle")
      spark.conf.set(key, "4194304")
      assert(repartitions(Parallelism.ensure(spark.read.parquet(dir))) == 1,
        "single-split single file must repartition")
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }
}
