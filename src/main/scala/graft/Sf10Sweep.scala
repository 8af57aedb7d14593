package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf10 TOP-30 sweep (round-15 VERDICT item 5) — finish the top of the
  * perf-evidence pyramid: the r14 probe ([[Sf10Probe]]) took the 8
  * flagship queries one decade past sf1; everything else's posture
  * above sf1 was inferred from plan shape + the sf0.1→sf1 trend. This
  * sweep runs the TOP-30-BY-SF1-COST queries (registry-driven: ranked
  * from the committed sf1 bench artifact at run time, not a hand
  * list) on a full ×100-of-sf0.1 fixture, with the same per-stage
  * listener and the same hard no-single-task-stage-≥10 s assertion.
  *
  * Fixture: ALL tables at 100 replicas under /tmp/graft_scale_sf10_full,
  * the [[ScaleProbe]] v9 recipe verbatim (token-salted documents,
  * disjoint graph replicas, offset keys, 32 part files per fact
  * table; dimensions stay single-file). Embeddings get the circular
  * shift AND a global sign flip on the second wrap (replicas ≥ dim
  * repeat a shift; negation keeps within-replica structure while
  * making cross-wrap cosines negative, so the near-dup RATE stays
  * constant — the permutation argument alone stops working past
  * dim replicas).
  *
  * EXCLUSIONS (each with its contract and where it IS probed —
  * emitted in the JSON so a skipped query is loud, never silent):
  * the deliberately-quadratic pair-contract queries materialize
  * pairs ∝ replicas² under fixed-cardinality keys — ×100 replicas is
  * 20B+ pairs, a machine class, and their decade step in the quantity
  * that actually grows (the pair table) is ALREADY probed at the 2B
  * rung by [[Sf10Probe]]; the true-sf10 dedup flagships are already
  * measured there too. Excluded rank slots are BACKFILLED from the
  * next-ranked queries so the sweep still covers 30.
  *
  * Usage: `runMain graft.Sf10Sweep [sf1BenchJson] [n=30]` → one JSON
  * line per query (streamed, so a crash keeps partial evidence) plus
  * a summary; exit 1 on any single-task violation OR query error
  * (the [[Sf10Probe]] round-15 failure-semantics fix). Committed as
  * SCALE_SWEEP_r15.json.
  */
object Sf10Sweep {

  private val FixtureDir = "/tmp/graft_scale_sf10_full"
  private val BaseDir = "/root/testdata/sf0.1"
  private val Replicas = 100

  /** query → (contract, where its scale evidence lives) */
  private val Excluded: Map[String, String] = Map(
    "q_block_equi" -> "pairs ∝ replicas² (fixed-cardinality keys): 2.076B-pair rung in SCALE_PROBE_r14",
    "q_pairs_assembly" -> "pairs ∝ replicas²: 2.076B-pair rung in SCALE_PROBE_r14",
    "q_pattern_counts" -> "pairs ∝ replicas²: 2.076B-pair rung in SCALE_PROBE_r14 + SPILL_PROBE_r15",
    "q_scoring" -> "pairs ∝ replicas²: 2.076B-pair rung in SCALE_PROBE_r14",
    "q_blocking_metrics" -> "same pair table as q_block_equi (pairs ∝ replicas²): covered by the 2B rung",
    "q_semantic_decontaminate" -> "corpus×bench pairs ∝ replicas² by construction (both sides grow): sf1 ladder is its decade step",
    "q_freq_weight" -> "acctbal key fixed ~110-value cardinality → pairs ∝ replicas² by construction: sf1 ladder is its decade step",
    "q_jaccard_prefix" -> "already at TRUE sf10 in SCALE_PROBE_r14 (864.6 s, linear, 32-wide)",
    "q_minhash_lsh" -> "already at TRUE sf10 in SCALE_PROBE_r14 (22.5 s)",
    "q_winnow" -> "already at TRUE sf10 in SCALE_PROBE_r14 (30.0 s)",
    "q_novelty" -> "already at TRUE sf10 in SCALE_PROBE_r14 (14.7 s)")

  /** Rank queries by sf1 median cost from a committed bench artifact
    * (json4s ships with Spark — the Bench trend-reader pattern).
    */
  private def rankedBySf1Cost(path: String): Seq[(String, Double)] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)))
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(txt)
    (j \ "queries") match {
      case JObject(fields) => fields.flatMap {
        case (k, JDouble(d)) => Some(k -> d)
        case (k, JInt(i)) => Some(k -> i.toDouble)
        case (k, JDecimal(d)) => Some(k -> d.toDouble)
        case _ => None
      }.sortBy(-_._2)
      case _ => sys.error(s"no queries object in $path")
    }
  }

  private[graft] def buildFixture(spark: SparkSession): Unit = {
    val done = new java.io.File(s"$FixtureDir/_DONE_v1")
    if (done.exists) return
    Seq("part", "nation", "region").foreach(t =>
      spark.read.parquet(s"$BaseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$FixtureDir/$t.parquet"))
    def maxOf(df: org.apache.spark.sql.DataFrame, c: String): Long =
      df.agg(max(c)).head.getAs[Number](0).longValue
    val customer = spark.read.parquet(s"$BaseDir/customer.parquet")
    require(maxOf(customer, "c_custkey") < 15000L, "customer stride")
    customer
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("c_custkey", col("c_custkey") + col("__r") * 15000L)
      .drop("__r").repartition(32)
      .write.mode("overwrite").parquet(s"$FixtureDir/customer.parquet")
    val documents = spark.read.parquet(s"$BaseDir/documents.parquet")
    require(maxOf(documents, "doc_id") < 5000L, "documents stride")
    documents
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("doc_id", col("doc_id") + col("__r") * 5000L)
      .withColumn("text",
        when(col("__r") === 0, col("text"))
          .otherwise(concat_ws(" ",
            transform(split(col("text"), " "),
              w => concat(w, lit("_"), col("__r").cast("string"))))))
      .drop("__r").repartition(32)
      .write.mode("overwrite").parquet(s"$FixtureDir/documents.parquet")
    val events = spark.read.parquet(s"$BaseDir/events.parquet")
    val maxEvent = maxOf(events, "event_id") + 1
    events
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("event_id", col("event_id") + col("__r") * maxEvent)
      .withColumn("user_id", col("user_id") + col("__r") * 1000000L)
      .drop("__r").repartition(32)
      .write.mode("overwrite").parquet(s"$FixtureDir/events.parquet")
    val orders = spark.read.parquet(s"$BaseDir/orders.parquet")
    val maxOrder = maxOf(orders, "o_orderkey") + 1
    orders
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("o_orderkey", col("o_orderkey") + col("__r") * maxOrder)
      .withColumn("o_custkey", col("o_custkey") + col("__r") * 1000000L)
      .drop("__r").repartition(32)
      .write.mode("overwrite").parquet(s"$FixtureDir/orders.parquet")
    val embeddings = spark.read.parquet(s"$BaseDir/embeddings.parquet")
    val nVec = embeddings.count()
    val dim = embeddings.select(size(col("embedding"))).head.getInt(0)
    embeddings
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("vec_id", col("vec_id") + col("__r") * nVec)
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)),
          i => element_at(col("embedding"),
            (pmod(i + col("__r"), lit(dim)) + 1).cast("int")) *
            when(pmod(floor(col("__r") / dim), lit(2)) === 1, lit(-1.0f))
              .otherwise(lit(1.0f))))
      .drop("__r").repartition(32)
      .write.mode("overwrite").parquet(s"$FixtureDir/embeddings.parquet")
    val lineitem = spark.read.parquet(s"$BaseDir/lineitem.parquet")
    val maxLiOrder = maxOf(lineitem, "l_orderkey") + 1
    lineitem
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("l_orderkey", col("l_orderkey") + col("__r") * maxLiOrder)
      .withColumn("l_suppkey", col("l_suppkey") + col("__r") * 1000000L)
      .drop("__r").repartition(32)
      .write.mode("overwrite").parquet(s"$FixtureDir/lineitem.parquet")
    val supplier = spark.read.parquet(s"$BaseDir/supplier.parquet")
    supplier
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("s_suppkey", col("s_suppkey") + col("__r") * 1000000L)
      .drop("__r").repartition(32)
      .write.mode("overwrite").parquet(s"$FixtureDir/supplier.parquet")
    done.createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val benchPath = args.lift(0).getOrElse("docs/BENCH_sf1_v9_r13.json")
    val topN = args.lift(1).map(_.toInt).getOrElse(30)
    val ranked = rankedBySf1Cost(benchPath)
      .filter { case (n, _) => SparkEntry.queries.contains(n) }
    val picked = ranked.filterNot(r => Excluded.contains(r._1)).take(topN)

    val spark = GraftSession.build("graft-sf10-sweep")
    buildFixture(spark)
    val log = new graft.util.StageLog
    spark.sparkContext.addSparkListener(log)

    val violations = scala.collection.mutable.ArrayBuffer[String]()
    val results = picked.map { case (name, sf1Sec) =>
      log.drain()
      val t0 = System.nanoTime()
      val (rows, err) =
        try (SparkEntry.queries(name)(spark, FixtureDir).count(), "")
        catch { case e: Throwable => (-1L, e.getClass.getSimpleName) }
      val sec = (System.nanoTime() - t0) / 1e9
      if (err.nonEmpty) violations += s"$name failed: $err"
      val (stages, _) = log.drain()
      log.singleTaskViolations(stages).foreach { s =>
        violations += s"$name stage ${s.id} single-task ${s.runMs / 1000}s"
      }
      // top stages by max(wall, run), violating stages force-included
      // (round-15 ADVICE: wall-ranked selection could omit the stage
      // that tripped the exit code from the artifact).
      val heavy = log.topStages(stages, 6).map(_.json).mkString("[", ",", "]")
      val errJson = if (err.isEmpty) "" else s""","err":"$err""""
      val line =
        f""""$name":{"sec":$sec%.1f,"sf1_sec":$sf1Sec%.2f,"x_vs_sf1":${sec / math.max(sf1Sec, 0.001)}%.1f,"rows":$rows,"top_stages":$heavy$errJson}"""
      // stream per-query evidence — a crash mid-sweep keeps the trail
      System.err.println(s"[sweep] $line")
      line
    }
    val excl = Excluded.map { case (k, v) => s""""$k":"${v.replace("\"", "'")}"""" }
      .mkString("{", ",", "}")
    val vioJson = violations.map(v => "\"" + v + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"sf10_sweep","replicas":$Replicas,"n":${results.size},"queries":${results.mkString("{", ",", "}")},"excluded":$excl,"single_task_violations":$vioJson}""")
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
