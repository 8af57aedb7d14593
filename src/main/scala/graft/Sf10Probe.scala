package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The sf10 scale rung (round-14 VERDICT item 2): climb one decade
  * past the sf1 ladder on the two flagship families, with PER-STAGE
  * evidence instead of wall-clock alone.
  *
  * Two fixtures, two contracts:
  *
  *   - DEDUP set (q_jaccard_prefix / q_minhash_lsh / q_winnow /
  *     q_novelty) at TRUE sf10: 100 token-salted replicas of the
  *     sf0.1 documents (500k docs). Salting keeps the duplicate RATE
  *     constant — the family's claim is LINEAR growth, so 10× the sf1
  *     corpus should cost ~10× its time with no stage degenerating.
  *
  *   - LINKAGE contract set (q_block_equi / q_pairs_assembly /
  *     q_pattern_counts / q_scoring) at the ~2-BILLION-pair rung: 32
  *     customer replicas with the demo blocking keys held at FIXED
  *     cardinality (the SCALE_PROBE contract that deliberately exposes
  *     the quadratic term: pairs ≈ 32² × 2.02M ≈ 2.07e9, ~10× the sf1
  *     probe's 202.7M). TRUE sf10 under this contract would be 20B
  *     pairs (100² × 2.02M) — a different machine class; the 2B rung
  *     is the decade step in the quantity that actually grows, the
  *     pair table. Production scales key cardinality with the corpus
  *     (pairs grow linearly); the fixed-key contract is the stress
  *     shape.
  *
  * A SparkListener records every completed stage's task count and
  * runtime. The probe FAILS (exit 1) if any stage that ran ≥ 10 s of
  * wall time ran as a SINGLE task — the no-single-task-stage assertion
  * the verdict asked for (tiny driver-sized aggregates legitimately
  * run 1 task; a 10-second single task is a serialization bug). Each
  * query is timed once, COLD (a warmup pass at 2B pairs would double a
  * ~30-minute probe for ratio polish the per-stage data already
  * provides; growth is judged against the sf1 probe's model, not
  * micro-deltas).
  *
  * Usage: `runMain graft.Sf10Probe` → one JSON line, committed as
  * SCALE_PROBE_r14.json.
  */
object Sf10Probe {

  private val BaseDir = "/root/testdata/sf0.1"
  private val DedupDir = "/tmp/graft_scale_sf10_docs"
  private val DedupReplicas = 100
  private val PairsReplicas = 32
  private val PairsDir = pairsDir(PairsReplicas)

  private def pairsDir(replicas: Int): String = s"/tmp/graft_scale_pairs_r$replicas"

  private val DedupQueries = Seq(
    "q_jaccard_prefix", "q_minhash_lsh", "q_winnow", "q_novelty")
  private val LinkageQueries = Seq(
    "q_block_equi", "q_pairs_assembly", "q_pattern_counts", "q_scoring")

  private[graft] def buildFixtures(spark: SparkSession): Unit = {
    val dedupDone = new java.io.File(s"$DedupDir/_DONE_v1")
    if (!dedupDone.exists) {
      // token-salted replicas — the ScaleProbe documents recipe at 100
      // replicas; 32 part files so the scan layout is realistic.
      val documents = spark.read.parquet(s"$BaseDir/documents.parquet")
      // The replica id stride must clear the base fixture's id range,
      // or replica ids collide and silently distort the duplicate
      // rate the probe claims to hold constant (round-15 ADVICE).
      val maxDocId = documents.agg(max("doc_id")).head.getAs[Number](0).longValue
      require(maxDocId < 5000L,
        s"sf0.1 documents max doc_id $maxDocId >= replica stride 5000 — regenerated fixture needs a larger stride")
      documents
        .withColumn("__r", explode(sequence(lit(0), lit(DedupReplicas - 1))))
        .withColumn("doc_id", col("doc_id") + col("__r") * 5000L)
        .withColumn("text",
          when(col("__r") === 0, col("text"))
            .otherwise(concat_ws(" ",
              transform(split(col("text"), " "),
                w => concat(w, lit("_"), col("__r").cast("string"))))))
        .drop("__r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$DedupDir/documents.parquet")
      dedupDone.createNewFile()
    }
    buildPairs(spark, PairsReplicas)
  }

  /** `replicas` copies of the sf0.1 customer table: key-offset-free
    * replicas, so blocking keys keep FIXED cardinality (the quadratic
    * contract) and only the id moves — candidate pairs grow as
    * replicas² × the sf0.1 count (about 2.02M). Also built alone by
    * `FixtureBuild pairs <replicas>` for a [[ConfProbe]] run of
    * q_pattern_counts at that rung. Returns the fixture dir.
    */
  private[graft] def buildPairs(spark: SparkSession, replicas: Int): String = {
    val dir = pairsDir(replicas)
    val done = new java.io.File(s"$dir/_DONE_v1")
    if (!done.exists) {
      val customer = spark.read.parquet(s"$BaseDir/customer.parquet")
      val maxCustKey = customer.agg(max("c_custkey")).head.getAs[Number](0).longValue
      require(maxCustKey < 15000L,
        s"sf0.1 customer max c_custkey $maxCustKey >= replica stride 15000 — regenerated fixture needs a larger stride")
      customer
        .withColumn("__r", explode(sequence(lit(0), lit(replicas - 1))))
        .withColumn("c_custkey", col("c_custkey") + col("__r") * 15000L)
        .drop("__r")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      done.createNewFile()
    }
    dir
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-sf10-probe")
    buildFixtures(spark)
    val log = new graft.util.StageLog
    spark.sparkContext.addSparkListener(log)

    val violations = scala.collection.mutable.ArrayBuffer[String]()
    def run(names: Seq[String], dir: String): String =
      names.map { name =>
        log.drain() // clear anything from fixture builds / prior query
        val t0 = System.nanoTime()
        val (rows, err) =
          try (SparkEntry.queries(name)(spark, dir).count(), "")
          catch { case e: Throwable => (-1L, e.getClass.getSimpleName) }
        // A crashed flagship query is a FAILED probe, not a JSON
        // footnote (round-15 ADVICE): route it through the same
        // violations channel that drives the exit code.
        if (err.nonEmpty) violations += s"$name failed: $err"
        val sec = (System.nanoTime() - t0) / 1e9
        val (stages, _) = log.drain()
        log.singleTaskViolations(stages).foreach { s =>
          violations += s"$name stage ${s.id} single-task ${s.runMs / 1000}s"
        }
        val stageJson = stages.sortBy(_.id).map(_.json).mkString("[", ",", "]")
        val errJson = if (err.isEmpty) "" else s""","err":"$err""""
        f""""$name":{"sec":$sec%.1f,"rows":$rows,"stages":$stageJson$errJson}"""
      }.mkString("{", ",", "}")

    val dedup = run(DedupQueries, DedupDir)
    val linkage = run(LinkageQueries, PairsDir)
    val vioJson = violations.map(v => "\"" + v + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"sf10_probe","dedup_replicas":$DedupReplicas,"pairs_replicas":$PairsReplicas,"dedup_sf10":$dedup,"linkage_2b_pairs":$linkage,"single_task_violations":$vioJson}""")
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
