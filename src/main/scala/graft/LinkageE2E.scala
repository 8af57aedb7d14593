package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.linkage._

/** End-to-end TWO-TABLE linkage at the reference's production scale —
  * NCVR 2021 × 2023 (scratch.R:142-156, ~8M voters × 2 snapshots)
  * rebuilt as customer × a synthesized perturbed clone, through the
  * full pipeline ([[graft.linkage.Linkage.run]]): blocking → u-probs →
  * EM → scoring → calibration.
  * Where [[LinkageDemo]] proves the algorithmics on ~800 records,
  * this proves the PIPELINE: default 150k × 135k
  * (`SPARK_GRAFT_E2E_REPL=10`); `SPARK_GRAFT_E2E_REPL=534` is the
  * 8.0M × 7.2M NCVR shape (artifact docs/LINKAGE_E2E_r11.md), with
  * per-stage wall times printed.
  *
  * Table A: sf0.1 customer replicated `repl`× with re-keyed custkeys
  * and names regenerated from the new key (names stay unique —
  * replicated verbatim names would plant false "full agreement" pairs
  * across replicas and corrupt the precision measurement).
  *
  * Table B: a deterministic, DISTRIBUTED perturbation of A (pure
  * Column programs on hash(rec_id) — no driver loop, no RNG state):
  *   - ~10% of rows dropped (records with no match in B);
  *   - ~30% of names get one letter substituted at position 10 of 12
  *     (outside every blocking prefix — ≤ 6 chars — and inside the JW
  *     comparison: one late substitution in 12 chars lands in the
  *     "strong partial agreement" band);
  *   - ~20% of balances shifted by up to ±1.00;
  *   - ~6% of nation keys nulled (missingness → NULL comparator
  *     level, the reference's inapplicable-comparison convention).
  *
  * Blocking: two passes (name prefix; nation × balance band), key
  * cardinality scaled with `repl` — see the rules comment in [[main]].
  * Run: `sbt "runMain graft.LinkageE2E"` (SPARK_GRAFT_CPUS to size;
  * Spark's SPARK_LOCAL_DIRS to put shuffle/checkpoint scratch on real
  * disk for the NCVR shape, where RAM-backed /dev/shm would compete
  * with the heap).
  */
object LinkageE2E {

  /** `repl`× re-keyed replication of the sf0.1 customer table (15k
    * base rows — repl=10 is the standing 150k shape, repl=534 the
    * NCVR-scale ~8M shape), names regenerated from the new key.
    *
    * Names are 12 HASH-DERIVED LETTERS (md5 hex of the id, hex digits
    * mapped to letters), not the id's decimal digits: real person
    * names are high-entropy, so (a) a name-prefix blocking key is
    * HIGH-PRECISION (two different people rarely share it — blocks
    * of ~1, like real NCVR name blocks), and (b) Jaro–Winkler between
    * NON-matches is genuinely low. The first NCVR-scale cut used
    * `Customer#` + zero-padded digits and the linkage evidence
    * degenerated: every same-block non-match differed in exactly one
    * trailing digit (the same JW signature as a perturbed true match)
    * and every random pair shared the 10-char `Customer#0` literal
    * prefix (JW ≈ 0.85 "weak agreement" for everything) — the EM had
    * no name signal to fit and precision@5 collapsed to 0.15.
    */
  def tableA(spark: SparkSession, baseDir: String, repl: Int = 10): DataFrame =
    // ensure() UNDER the explode: the base customer table is one small
    // file, so without it the repl× fan-out runs in ONE task and the
    // 8M-row checkpoint materializes as ONE partition — every
    // downstream wide stage then pays a single-task multi-GB map-side
    // shuffle write. Measured this round (same code, repl=534): the
    // pattern-counts stage read 15.2 s calm / 255.9 / 665.1 s under
    // disk throttle with load ≈ 1 — one thread doing all the work was
    // the real mechanism behind the stage's "co-tenant sensitivity".
    graft.util.Parallelism.ensure(
        spark.read.parquet(s"$baseDir/customer.parquet"))
      .withColumn("__r", explode(sequence(lit(0), lit(repl - 1))))
      .withColumn("rec_id", col("c_custkey") + col("__r") * 15000L)
      .select(
        col("rec_id"),
        translate(substring(md5(col("rec_id").cast("string")), 1, 12),
          "0123456789abcdef", "ghijklmnopqrstuv").as("name"),
        col("c_nationkey").as("nationkey"),
        // Shift each replica's balance by a deterministic 0..9.99
        // spread: replicating acctbal VERBATIM makes every
        // nation×balance blocking block grow LINEARLY with repl — so
        // pass-2 pairs grow QUADRATICALLY in repl (the first NCVR-
        // scale attempt hit ~4e9 pass-2 candidates this way and
        // filled the scratch disk). Real populations add balance
        // diversity as they add people; so does the fixture now. The
        // offset hashes rec_id — an affine form like rec_id·37 mod
        // 1000 silently degenerates because the replica stride 15000
        // is ≡ 0 mod 1000, giving every replica the SAME offset.
        round(col("c_acctbal") +
          pmod(xxhash64(col("rec_id")), lit(1000L)).cast("double") / 100.0, 2)
          .as("acctbal"),
        col("c_mktsegment").as("segment"))

  /** Deterministic perturbed clone; B ids live at +1e9 so the two id
    * spaces never collide in the pair table.
    */
  def tableB(a: DataFrame): DataFrame = {
    def h(salt: Int) = abs(hash(col("rec_id"), lit(salt)))
    a.filter(pmod(h(0), lit(10)) =!= 7) // ~10% unmatched A rows
      .select(
        (col("rec_id") + 1000000000L).as("rec_id"),
        when(pmod(h(1), lit(10)) < 3,
          concat(substring(col("name"), 1, 9),
            translate(substring(md5(h(2).cast("string")), 1, 1),
              "0123456789abcdef", "ghijklmnopqrstuv"),
            substring(col("name"), 11, 2)))
          .otherwise(col("name")).as("name"),
        when(pmod(h(3), lit(17)) === 0, lit(null))
          .otherwise(col("nationkey")).as("nationkey"),
        when(pmod(h(4), lit(5)) === 0,
          round(col("acctbal") + (pmod(h(5), lit(200)) - 100) / lit(100.0), 2))
          .otherwise(col("acctbal")).as("acctbal"),
        col("segment"))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-linkage-e2e")
    val tTotal0 = System.nanoTime()

    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_E2E_REPL=534 ⇒ A ≈ 8.0M, B ≈ 7.2M — the reference's
    // NCVR production scale (scratch.R:142-156: ~8M voters × 2
    // snapshots). Default 10 keeps the standing 150k × 135k shape.
    val repl = sys.env.getOrElse("SPARK_GRAFT_E2E_REPL", "10").toInt
    val (a, nA, _) = Bridge.localCheckpointWithCount(tableA(spark, baseDir, repl))
    val (b, nB, _) = Bridge.localCheckpointWithCount(tableB(a))
    println(s"A: $nA records; B: $nB records; cross space ${nA * nB} pairs")

    val truth = a.select(col("rec_id"), col("rec_id").as("cluster"))
      .union(b.select(col("rec_id"), (col("rec_id") - 1000000000L).as("cluster")))

    // Blocking: name-prefix pass + nation×balance-band pass.
    // Per-block pair count is quadratic in block size (the extractBlocks
    // scale contract), so the key CARDINALITY must grow with the data:
    // at NCVR scale the name prefix widens to 6 hash-letters (16⁶ ≈
    // 16.7M keys over 8M rows → blocks of ~0.5, the real NCVR
    // name-block shape; pass-1 pairs ≈ true pairs + a few same-prefix
    // collisions) and the balance band narrows to dimes (~2.8M keys,
    // ~4e7 pairs — the EM's non-match mass). The first cut of this run
    // used low-cardinality keys — 80-to-534-row blocks, ~4e9
    // candidates — and filled the VM's 80 GB of scratch disk
    // mid-distinct: at 8M×7M rows, block-size control IS the
    // feasibility knob, exactly as at 100 TB. The prefix stays clear
    // of the perturbation site (letter substitution at position 10),
    // so pass-1 recall is 100% by construction at either scale.
    // Prefix length also bounds the SAME-PREFIX COLLISION mass, which
    // must stay well under the match mass: EM's m-init follows the
    // reference (seq(0.1..0.8) over alphabetically sorted levels,
    // linking.R:87-88), which starts "weak partial agreement" — the
    // collision signature — at the HIGHEST initial m, so a collision
    // cluster comparable to the match cluster pulls the m-basin onto
    // the collisions (measured at 150k with a 4-letter prefix: 332k
    // collisions vs 135k matches → λ locked onto the collisions and
    // recall@>0 fell to 0.28; 5 letters → ~11k collisions and the
    // basin is unambiguous).
    val big = repl > 10
    val prefixLen = if (big) 6 else 5
    val balKey = (c: Column) => if (big) floor(c * 10) else floor(c / 10)
    val rules = BlockingRules(Seq(
      ComputedKeys(Seq(
        ("name_pfx", substring(col("name_left"), 1, prefixLen),
          substring(col("name_right"), 1, prefixLen)))),
      ComputedKeys(Seq(
        ("nk", col("nationkey_left"), col("nationkey_right")),
        ("bal10", balKey(col("acctbal_left")), balKey(col("acctbal_right")))))))
    // The salt pre-flight sizes the coarser pass-2 key (nation ×
    // balance band — the pass that goes quadratic if the band is too
    // wide). With the scaled keys above the expected answer is 0 (the
    // key spreads fine; salting would only pay replication) — the
    // point is that this is MEASURED before the join runs, not
    // asserted: a fixture regression to a low-cardinality band would
    // surface here as a nonzero salt count instead of a straggler task.
    val saltKey = struct(col("nationkey"), balKey(col("acctbal")).as("b"))

    // Comparators: JW name band, exact nation (nulls → NULL level),
    // exact segment, balance band.
    val comparators =
      Comparators.jaroWinkler(Seq("name")) ++
      Comparators.exact(Seq("nationkey", "segment")) :+
      Comparators.expression("bal_band",
        when(abs(col("acctbal_left") - col("acctbal_right")) < lit(1.5), "close")
          .otherwise("far"))

    // Decision threshold: weight > 0 — the Fellegi–Sunter sign
    // boundary (total log-likelihood ratio favors match). A fixed
    // positive cutoff like the old `> 5` silently moves BETWEEN match
    // clusters when EM is fit over the candidate population: blocking
    // conditions candidates on nation/balance agreement, so those
    // comparators carry ~0 weight within candidates and a
    // name-perturbed true match rides on the name weight alone (~4.4
    // here) — at NCVR scale `> 5` kept precision 1.0 but silently
    // cost 28% recall.
    val res = Linkage.run(a, b, "rec_id", rules, saltKey, comparators, truth,
      uSample = 500000L, emIterations = 25, threshold = 0.0)
    println(s"recommended hotKeySalts for pass 2: ${res.salts}")
    println(s"candidate pairs: ${res.candidates}")
    println(s"distinct patterns: ${res.patterns.size}")
    val em = res.em
    println(f"lambda = ${em.lambda}%.3e")
    em.trace.foreach(t =>
      println(f"  iter ${t.iteration}%2d: dM=${t.maxDeltaM}%.2e dU=${t.maxDeltaU}%.2e lambda=${t.lambda}%.3e logLik=${t.logLik}%.6e"))
    em.weights.foreach { case (f, ls) =>
      println(s"  $f: " + ls.map { case (l, w) => f"$l=$w%.2f" }.mkString(", "))
    }
    println("precision by weight band:")
    res.bands.foreach(r => println(f"  band=${r.getDouble(0)}%5.1f precision=${r.getDouble(1)}%.4f n=${r.getLong(2)}"))
    println(f"precision@weight>0: ${res.trueTop}/${res.top} = ${res.trueTop.toDouble / res.top}%.4f")
    // every B row has exactly one true A partner
    println(f"recall@weight>0:    ${res.trueTop}/$nB = ${res.trueTop.toDouble / nB}%.4f")

    val cal = res.calibration
    println(f"glm calibration: P(match) = sigmoid(${cal.intercept}%.4f + ${cal.slope}%.4f * weight)" +
      s" separated=${cal.separated}")
    if (cal.separated)
      println("  NOTE: weight COMPLETELY SEPARATES truth — the glm MLE does not" +
        "\n  exist (R glm would warn 'fitted probabilities numerically 0 or 1');" +
        "\n  coefficients are optimizer stopping points, the ranking is exact.")
    val total = (System.nanoTime() - tTotal0) / 1e9
    println(f"[time] TOTAL: $total%.1f s (" +
      res.seconds.map { case (phase, s) => f"$phase=$s%.1f" }.mkString(" ") + ")")
    spark.stop()
  }
}
