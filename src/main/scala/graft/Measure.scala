package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.util.StageLog

/** The one measurement main. Every per-query probe of the engine is a
  * mode of it, built on one query runner ([[Measure.Runner]]), one
  * violation rule ([[StageLog.singleTaskViolations]]) and one replica
  * recipe ([[Measure.replicate]]). Sessions run with the Spark UI off,
  * so the runner's [[StageLog]] is the stage table.
  *
  * Usage: `runMain graft.Measure <mode> …`
  *   - `profile q_a[,q_b] [sfDir=sf0.1] [runs=2]`: one JSON line per
  *     run with wall time, rows, jobs and stage count; the last run
  *     also lists every stage of ≥ 100 ms (tasks, wall, input, shuffle
  *     read/write, spill). A query that fires many actions at
  *     construction (eager localCheckpoint rounds) shows its fixed
  *     per-action overhead in `jobs`.
  *   - `explain q_a[,q_b] [sfDir=sf0.01]`: runs the queries in one
  *     session (to reproduce cross-query effects), prints
  *     `[explain] <q> rows=… time=…s` per query, then the last query's
  *     formatted physical plan.
  *   - `conf q_a[,q_b] [sfDir=sf0.1] [passes=3] [variants]`: same-JVM
  *     interleaved A/B of runtime SQL confs, see [[conf]].
  *   - `scale`, `rung`, `sweep [sf1BenchJson] [n=30]`: the scale-ladder
  *     probes over replica fixtures, see [[scale]], [[rung]], [[sweep]].
  *     Each exits 1 when a query fails or a stage breaks the
  *     single-task rule.
  *   - `fixture [scale|rung|sweep|pairs <replicas>|all]`: builds a
  *     probe's fixtures without running its queries (default `all`).
  *     /tmp is wiped between sessions, and a probe whose first query
  *     ran on a fresh build measured the build's cold state.
  */
object Measure {

  private val BaseDir = "/root/testdata/sf0.1"

  /** One replica fixture: `replicas` copies of `tables` of [[BaseDir]]
    * under `dir`, built by [[replicate]].
    */
  private final case class Fixture(dir: String, replicas: Int, tables: Seq[String])

  private val Dimensions = Set("part", "nation", "region")
  private val AllTables = Seq("part", "nation", "region", "customer", "documents",
    "events", "orders", "embeddings", "lineitem", "supplier")

  private val ScaleFixture = Fixture("/tmp/graft_scale_sf1", 10, AllTables)
  private val SweepFixture = Fixture("/tmp/graft_scale_sf10_full", 100, AllTables)
  private def pairsFixture(replicas: Int) =
    Fixture(s"/tmp/graft_scale_pairs_r$replicas", replicas, Seq("customer"))
  private val RungDedup = SweepFixture.copy(tables = Seq("documents"))
  private val RungPairs = pairsFixture(32)

  /** Runs registry queries in one session with a [[StageLog]] attached. */
  final class Runner(spark: SparkSession) {
    val log = new StageLog(spark.sparkContext)

    /** One query run. A query that threw has `rows` −1 and its
      * exception's class in `err`; `plan` is its formatted physical
      * plan when the run asked for it.
      */
    final case class Run(q: String, sec: Double, rows: Long, jobs: Int,
        stages: Seq[log.Stage], err: String = "", plan: String = "") {

      /** The probes' failure rule: a failed query, and every single-task
        * stage that executed for ≥ 10 s.
        */
      def violations: Seq[String] =
        (if (err.isEmpty) Nil else Seq(s"$q failed: $err")) ++
          log.singleTaskViolations(stages).map(s => s"$q stage ${s.id} single-task ${s.runMs / 1000}s")

      def mb(f: log.Stage => Long): Long = stages.map(f).sum >> 20
      def errJson: String = if (err.isEmpty) "" else s""","err":"$err""""
    }

    /** Times construction and action together, as [[Bench]] does: eager
      * work (localCheckpoint rounds) happens at construction and would
      * escape an action-only timer. One failing query costs its own
      * record, not the probe's output.
      */
    def apply(q: String, dir: String, explain: Boolean = false): Run = {
      log.drain()
      val t0 = System.nanoTime()
      val (rows, err, df) =
        try {
          val df = SparkEntry.queries(q)(spark, dir)
          (df.count(), "", Some(df))
        } catch {
          case e: Throwable =>
            System.err.println(s"[measure] $q failed in $dir: ${e.getMessage}")
            (-1L, e.getClass.getSimpleName, None)
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val plan = df.filter(_ => explain)
        .map(_.queryExecution.explainString(FormattedMode)).getOrElse("")
      val (stages, jobs) = log.drain()
      Run(q, sec, rows, jobs, stages, err, plan)
    }
  }

  /** The one replica recipe: `replicas` copies of each of `tables` of
    * `baseDir`, written under `outDir` with a per-table sentinel, so a
    * probe builds only what it reads and a later probe adds only what
    * is missing. Fact tables are written as 32 part files: one part
    * file is one scan partition, and a compute-heavy first stage then
    * ran single-threaded (q_bloom_index read 361.8 s at sf1 on that
    * layout), measuring a layout pathology, not the engine.
    *
    * Per table, replica r:
    *   - part/nation/region: copied verbatim, single-file. Dimensions
    *     stay fixed while facts grow, the realistic star-schema scaling
    *     (q_fk_integrity / q_join_estimate read lineitem × part).
    *   - customer: c_custkey offset by r·15000; every other column
    *     verbatim, so the demo blocking keys (nation × segment, 2-digit
    *     name suffix) keep their FIXED cardinality, the superlinear
    *     shape the probes expose (pairs grow ~R² for R× rows).
    *   - documents: doc_id offset by r·5000, and every token of `text`
    *     salted with `_r` for r > 0. Each replica keeps the original
    *     near-dup structure while shingles are disjoint across
    *     replicas, so the duplicate RATE stays constant as the corpus
    *     grows (plain copies would give every doc R exact duplicates
    *     and explode LSH buckets quadratically).
    *   - events: event_id offset past the base's range, user_id by
    *     r·1e6: the user population grows with the data, so per-user
    *     session state stays bounded.
    *   - orders: o_orderkey offset past the base's range, o_custkey by
    *     r·1e6: the order graph becomes R disjoint components, so
    *     per-round join + agg loops should scale linearly.
    *   - embeddings: vec_id offset by r·n; vector r is the base vector
    *     CIRCULARLY SHIFTED by r mod dim positions and negated when
    *     ⌊r/dim⌋ is odd. A permutation keeps every within-replica inner
    *     product while cross-replica cosines decorrelate; past dim
    *     replicas the shifts repeat, and the negation makes cross-wrap
    *     cosines negative, so the near-dup rate stays constant.
    *   - lineitem: l_orderkey offset past the base's range, l_suppkey by
    *     r·1e6: the order–supplier graph becomes R disjoint components.
    *   - supplier: s_suppkey by r·1e6, the same offset as lineitem.
    *     q_sssp's seed filter (s_suppkey ≤ 5) then matches only the
    *     base replica, so its reached set stays constant while edges
    *     grow R×.
    *
    * A fixed stride must clear the base's id range, or replica ids
    * collide and silently distort what the fixture holds constant; each
    * is checked with a `require`.
    */
  def replicate(spark: SparkSession, baseDir: String, outDir: String,
      replicas: Int, tables: Seq[String]): Unit =
    tables.foreach { t =>
      val done = new java.io.File(s"$outDir/_DONE_v9_$t")
      if (!done.exists) {
        val base = spark.read.parquet(s"$baseDir/$t.parquet")
        def maxOf(c: String): Long = base.agg(max(c)).head().getAs[Number](0).longValue
        def stride(c: String, s: Long): Long = {
          val m = maxOf(c)
          require(m < s, s"$baseDir/$t max $c $m >= replica stride $s: a regenerated base needs a larger stride")
          s
        }
        val r = col("__r")
        def offset(c: String, by: Long): (String, Column) = c -> (col(c) + r * by)
        val out = if (Dimensions(t)) base else {
          val replaced: Seq[(String, Column)] = t match {
            case "customer" => Seq(offset("c_custkey", stride("c_custkey", 15000L)))
            case "documents" => Seq(offset("doc_id", stride("doc_id", 5000L)),
              "text" -> when(r === 0, col("text")).otherwise(concat_ws(" ",
                transform(split(col("text"), " "), w => concat(w, lit("_"), r.cast("string"))))))
            case "events" => Seq(offset("event_id", maxOf("event_id") + 1),
              offset("user_id", stride("user_id", 1000000L)))
            case "orders" => Seq(offset("o_orderkey", maxOf("o_orderkey") + 1),
              offset("o_custkey", stride("o_custkey", 1000000L)))
            case "embeddings" =>
              val dim = base.select(size(col("embedding"))).head().getInt(0)
              Seq(offset("vec_id", base.count()),
                "embedding" -> transform(sequence(lit(0), lit(dim - 1)),
                  i => element_at(col("embedding"), (pmod(i + r, lit(dim)) + 1).cast("int")) *
                    when(pmod(floor(r / dim), lit(2)) === 1, lit(-1.0f)).otherwise(lit(1.0f))))
            case "lineitem" => Seq(offset("l_orderkey", maxOf("l_orderkey") + 1),
              offset("l_suppkey", stride("l_suppkey", 1000000L)))
            case "supplier" => Seq(offset("s_suppkey", stride("s_suppkey", 1000000L)))
            case other => throw new IllegalArgumentException(s"no replica recipe for table $other")
          }
          base.withColumn("__r", explode(sequence(lit(0), lit(replicas - 1))))
            .withColumns(replaced.toMap).drop("__r").repartition(32)
        }
        out.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
        done.createNewFile()
      }
    }

  private def build(spark: SparkSession, f: Fixture): Unit =
    replicate(spark, BaseDir, f.dir, f.replicas, f.tables)

  private def jsonList(xs: Seq[String]): String = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")

  private def profile(spark: SparkSession, names: Seq[String], dir: String, runs: Int): Unit = {
    val run = new Runner(spark)
    names.foreach { n =>
      (1 to runs).foreach { i =>
        val r = run(n, dir)
        val stages = if (i < runs) "" else r.stages.sortBy(_.id).filter(_.wallMs >= 100).map { s =>
          f"""{"id":${s.id},"tasks":${s.tasks},"sec":${s.wallMs / 1000.0}%.2f,"in_mb":${s.input >> 20},"shR_mb":${s.shuffleRead >> 20},"shW_mb":${s.shuffleWrite >> 20},"spill_mb":${s.diskSpill >> 20},"spill_mem_mb":${s.memSpill >> 20}}"""
        }.mkString(""","stages_over_100ms":[""", ",", "]")
        println(f"""{"q":"$n","run":$i,"sec":${r.sec}%.2f,"rows":${r.rows},"jobs":${r.jobs},"n_stages":${r.stages.size}$stages${r.errJson}}""")
      }
    }
  }

  private def explain(spark: SparkSession, names: Seq[String], dir: String): Unit = {
    val run = new Runner(spark)
    names.foreach { n =>
      val r = run(n, dir, explain = n == names.last)
      println(f"[explain] $n rows=${r.rows} time=${r.sec}%.2fs")
      if (r.plan.nonEmpty) println(r.plan)
    }
  }

  /** Same-JVM interleaved A/B of RUNTIME SQL confs over a query list:
    * per pass, each query runs once under every variant, variant order
    * alternating per pass, so co-tenant load hits both sides of every
    * ratio equally. Each run also reports its jobs, spill and shuffle
    * bytes, so a winning variant is attributed to the work it removed,
    * not just to a wall-clock delta.
    *
    * `variants` is `name:k=v(,k=v)*(;name:…)*`, default
    * `base:;noaqe:spark.sql.adaptive.enabled=false`. Each variant's
    * confs are set with `spark.conf.set`, and every key any variant
    * touches is restored before the next run. Prints one
    * `conf_probe_run` line per (query, variant, pass) and a
    * `conf_probe` summary with medians and per-query ratios to the
    * first variant.
    *
    * The q_pattern_counts spill crossover (docs/SPILL_PROBE_r15*.json:
    * per-pair throughput halves between 8 and 16 customer replicas) is
    * re-measured on the replica fixture with the variant string below:
    * sort-merge join vs the session's shuffled-hash posture, more
    * shuffle partitions (smaller per-task sort runs), and a 16m AQE
    * advisory partition size (smaller coalesced partitions):
    * {{{
    *   sbt "runMain graft.Measure fixture pairs 16"
    *   sbt "runMain graft.Measure conf q_pattern_counts /tmp/graft_scale_pairs_r16 3 \"base:;smj:spark.sql.join.preferSortMergeJoin=true;p128:spark.sql.shuffle.partitions=128;adv16m:spark.sql.adaptive.advisoryPartitionSizeInBytes=16m;p128adv16m:spark.sql.shuffle.partitions=128,spark.sql.adaptive.advisoryPartitionSizeInBytes=16m\""
    * }}}
    * The variant string is double-quoted inside the sbt command, which
    * sbt would otherwise split at each `;`.
    */
  private def conf(spark: SparkSession, names: Seq[String], dir: String, passes: Int,
      variantSpec: String): Unit = {
    val variants: Seq[(String, Map[String, String])] =
      variantSpec.split(";").toSeq.map { v =>
        val Array(n, kvs @ _*) = v.split(":", 2)
        n -> kvs.headOption.filter(_.nonEmpty).map(_.split(",").map { kv =>
          val Array(k, vv) = kv.split("=", 2); k -> vv
        }.toMap).getOrElse(Map.empty[String, String])
      }
    val touched = variants.flatMap(_._2.keys).distinct
    val defaults = touched.map(k => k -> spark.conf.getOption(k)).toMap
    val run = new Runner(spark)
    val times = scala.collection.mutable.Map[(String, String), List[Double]]()
      .withDefaultValue(Nil)
    val jobs = scala.collection.mutable.Map[(String, String), Int]()
    // untimed warmup under the session's confs
    names.foreach(run(_, dir))
    (1 to passes).foreach { pass =>
      val order = if (pass % 2 == 1) variants else variants.reverse
      order.foreach { case (vn, conf) =>
        touched.foreach(k => defaults(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        })
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        names.foreach { n =>
          val r = run(n, dir)
          times((n, vn)) = r.sec :: times((n, vn))
          jobs((n, vn)) = r.jobs
          println(f"""{"metric":"conf_probe_run","q":"$n","variant":"$vn","pass":$pass,"sec":${r.sec}%.3f,"jobs":${r.jobs},"rows":${r.rows},"spill_disk_mb":${r.mb(_.diskSpill)},"spill_mem_mb":${r.mb(_.memSpill)},"shuffle_read_mb":${r.mb(_.shuffleRead)},"shuffle_write_mb":${r.mb(_.shuffleWrite)}${r.errJson}}""")
        }
      }
    }
    def med(xs: List[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val base = variants.head._1
    val summary = names.map { n =>
      val parts = variants.map { case (vn, _) =>
        f""""$vn":{"median_sec":${med(times((n, vn)))}%.3f,"jobs":${jobs((n, vn))}}"""
      } ++ variants.tail.map { case (vn, _) =>
        f""""ratio_$vn":${med(times((n, vn))) / med(times((n, base)))}%.3f"""
      }
      s""""$n":{${parts.mkString(",")}}"""
    }.mkString("{", ",", "}")
    val totals = variants.map { case (vn, _) =>
      f""""$vn":${names.map(n => med(times((n, vn)))).sum}%.2f"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"conf_probe","passes":$passes,"sf":"$dir","totals":$totals,"queries":$summary}""")
  }

  /** The sf1 ladder's queries. Each comment states the query's growth
    * contract on the ×10 fixture, so a ratio can be judged against it.
    */
  private[graft] val ScaleQueries = Seq(
    "q_block_equi", "q_pairs_assembly", "q_pattern_counts", "q_scoring",
    "q_ngram_jaccard", "q_minhash_lsh", "q_simhash", "q_dedup_clusters",
    // round-5 operator families (documents/events-based):
    "q_dedup_best", "q_decontaminate", "q_top_ngrams", "q_sessionize",
    "q_redact_pii", "q_line_dedup", "q_pack_chunks",
    // round-6: iterative graph rounds (orders-based, 10 disjoint
    // replica components — linear growth expected), event funnel, and
    // batch-vs-corpus incremental dedup (token-salted replicas keep
    // cross-replica shingles disjoint — growth should track the
    // corpus, not its square).
    "q_pagerank", "q_funnel", "q_incremental_dedup",
    // continuation: sketch + fixed-order scoring passes (documents-
    // based; the salted replicas multiply the distinct-token space,
    // so these exercise the bounded-state claim — MG state stays at
    // `capacity` and the BM25 stats row stays 1 row while the corpus
    // grows 10×).
    "q_heavy_hitters", "q_bm25",
    // continuation 2: winnow/span dedup ride the token-salted document
    // replicas (disjoint grams across replicas → linear); label prop
    // and outliers ride the disjoint orders replicas (linear);
    // semantic dedup rides shifted embedding replicas with the 8 seed
    // centroids HELD FIXED — within-cluster candidate pairs grow
    // ~(10×)² by construction (Σ|cluster|² with k fixed), the same
    // fixed-cardinality contract as q_block_equi's blocking keys:
    // production scales the centroid count with the corpus (SemDeDup
    // uses k ∝ n), the probe pins k to EXPOSE the term.
    "q_winnow", "q_span_dedup", "q_label_prop", "q_outliers",
    "q_semantic_dedup",
    // continuation 3: URL canonicalization + weighted sampling ride
    // customer replicas (map-only / top-k — linear); vocab + snapshot
    // diff ride the token-salted documents (vocab ×10 by salting, the
    // digest join linear); trend + SCD2 ride the orders replicas (one
    // hash agg / one keyed window — linear); dense ids ride customer
    // (range exchange + partition-local numbering — the claim under
    // test is that NO stage degenerates to a single task at 10×).
    "q_url_normalize", "q_vocab", "q_snapshot_diff", "q_dense_ids",
    "q_trend", "q_scd2",
    // continuation 4: range lookup rides orders (fixed 4-range fan-out
    // → linear); resample rides events (users ×10, per-user span
    // constant → linear grid); audio synth+decode is map-only over
    // documents; LM scoring rides the token-salted documents (vocab
    // AND tokens ×10 — the vocab hash join must stay shuffle-sized,
    // the 1-row stats broadcast).
    "q_range_lookup", "q_resample", "q_audio_stats", "q_lm_score",
    // continuation 5: strip_html is map-only over the token-salted
    // documents (linear); quantize is one dim-row stats agg + a
    // map-only encode over embeddings (linear); the semdedup keeper's
    // window partitions are (bucket, pos) — buckets spread under the
    // shifted replicas, so partitions stay small (linear); kcore rides
    // the lineitem replicas (10 disjoint graphs, FIXED rounds — the
    // same per-round join+agg linearity claim as pagerank).
    "q_strip_html", "q_quantize_int8", "q_semdedup_keeper", "q_kcore",
    // entropy rides the token-salted documents (tokens AND types ×10,
    // two hash aggs → linear); freq_weight rides customer replicas
    // whose acctbal blocking key has FIXED ~110-value cardinality —
    // pairs grow ×100 at ×10 rows BY CONSTRUCTION (the q_block_equi
    // key-cardinality contract, pinned here to expose the term).
    "q_entropy", "q_freq_weight",
    // continuation 6: sssp rides the lineitem replicas (seeds match
    // only the base replica, so the reached set is CONSTANT while
    // edges grow ×10 — isolates the relax join's edge-side cost);
    // retention + range_frame ride events (users
    // ×10, per-user frames constant → linear); percentiles ride
    // orders (keyed window, groups fixed, rows ×10 → linear);
    // interleave rides the token-salted documents (per-source window,
    // sources ×1, rows ×10 → linear with a bigger per-source rank
    // space).
    "q_sssp", "q_retention", "q_range_frame", "q_percentiles",
    // encode rides the token-salted documents: vocabulary AND tokens
    // ×10 — the vocab hash join must stay shuffle-sized (the lm_score
    // contract) and the per-doc sort stays doc-bounded.
    "q_interleave", "q_encode",
    // copurchase rides the lineitem replicas: baskets ×10 (orderkey
    // offsets) but ITEMS are shared across replicas (partkey kept),
    // so each item pair's shared-basket count stacks ×10 and pairs
    // formerly under minShared cross the threshold — OUTPUT rows grow
    // superlinearly by construction (like q_block_equi's fixed keys).
    // The honest scale claim is the TIME ratio: per-basket fan-out is
    // capped, so runtime tracks the ×10 input, not the output.
    // wau rides events: users ×10, constant day span → the deduped
    // active-pair table ×10 and the ×7 explode constant (linear).
    "q_copurchase", "q_wau",
    // pmi rides the token-salted documents: bigram TYPES ×10 (salted
    // tokens make cross-replica bigrams disjoint), tokens ×10 — two
    // hash aggs + token-keyed joins, linear.
    "q_pmi",
    // continuation 7: hits rides the orders replicas (same
    // customer→order graph as q_pagerank — nodes+edges ×10, fixed
    // rounds → linear); streaks rides events (users ×10, per-user
    // windows constant); lm_bigram + skipgram + js_drift ride the
    // token-salted documents (token types ×10, all hash aggs +
    // token-keyed joins → linear); shards is map-only O(n·nShards);
    // zscore rides customer replicas (stats agg + keyed join-back,
    // groups fixed → linear).
    "q_hits", "q_streaks", "q_lm_bigram", "q_skipgram", "q_js_drift",
    "q_shards", "q_zscore",
    // assoc_rules shares q_copurchase's superlinear-OUTPUT contract
    // (shared-basket counts stack across replicas; runtime tracks the
    // ×10 input); decayed/tfidf/robust_z/chi_square ride events /
    // documents / orders with keyed aggs+windows only → linear.
    "q_assoc_rules", "q_decayed", "q_tfidf", "q_robust_z",
    "q_chi_square",
    // continuation-7 later batches: weighted_median/rrf/waterfall ride
    // orders/embeddings/orders (keyed aggs + shortlists → linear);
    // incr_lsh and dup_evidence ride the token-salted documents (band
    // joins, capped buckets); temporal_bfs rides the order-supplier
    // ship-day graph (fixed rounds); sorted_blocking is w·n by
    // construction; survival/resample_linear/minmax ride events /
    // customer (distinct-duration windows, keyed joins → linear).
    "q_weighted_median", "q_rrf", "q_waterfall", "q_incr_lsh",
    "q_temporal_bfs", "q_sorted_blocking", "q_survival",
    "q_resample_linear", "q_minmax", "q_fd",
    // round 7: BPE rides the token-salted documents — the word-freq
    // state and pair space grow ×10 (salted replicas disjoint), rounds
    // fixed → linear in the vocabulary, NOT the corpus (the corpus is
    // touched once for the freq table); bpe_encode adds the
    // corpus⋈segmentation join (rows ×10, vocab ×10 → linear);
    // corpus_split_qa composes split hashing + JSD + chi-square (two
    // token-keyed aggs + dimension-sized marginals → linear).
    "q_bpe", "q_bpe_encode", "q_corpus_split_qa",
    // round-7 batch 2: hamming_neardups rides the shifted embedding
    // replicas (per-replica signature structure preserved, banded
    // equi-join → linear); image near-dups ride the doc-id replicas
    // (new bases per replica → pairs AND decode cost ×10, map-only
    // BMP decode); cms + bloom_index are the bounded-state claim
    // (cells/words constant while input ×10); length_batches is the
    // denseIdsBy range-exchange claim at ×10 (no single-task stage);
    // novelty rides the token-salted documents (shingle space ×10
    // disjoint → keyed aggs linear); winsorize/seasonal/autocorr ride
    // customer/orders replicas (keyed windows + dimension-sized
    // series → linear).
    "q_hamming_neardups", "q_image_neardups", "q_cms", "q_bloom_index",
    "q_length_batches", "q_novelty", "q_winsorize", "q_seasonal",
    "q_autocorr",
    // round-7 batch 4 (data-quality / eval family): fk_integrity and
    // join_estimate are per-key hash aggs + one key join — facts ×10
    // against a FIXED part dimension (the realistic star scaling) →
    // linear; equidepth is one group-keyed window (groups fixed, rows
    // ×10); benford is map-only + a 9-row agg; cusum's daily series
    // stays CONSTANT-length while the orders feeding it grow ×10 (the
    // bounded-series contract, like autocorr); vocab_coverage's vocab
    // grows ×10 (salted tokens) — denseIdsBy numbering + one
    // cutoff-exploded vocab-sized agg → linear; image_clusters adds
    // CC over ×10 disjoint pair components → linear; label_agreement
    // keeps the 50-query shortlist fixed while the scanned corpus
    // grows ×10 (the searchInt8 broadcast-query shape).
    "q_fk_integrity", "q_join_estimate", "q_equidepth", "q_benford",
    "q_cusum", "q_vocab_coverage", "q_image_clusters",
    "q_label_agreement",
    // round-7 batches 5-6: cdc_chunks is map-side array math per doc
    // (docs ×10 → linear, no shuffle before the output explode);
    // kappa/l_diversity are keyed aggs over docs/customer replicas;
    // calibration is map-only md5 + one 10-row agg; audio_tone rides
    // the doc replicas (decode + DFT both ×10, map-only + keyed agg);
    // modularity rides the orders graph replicas (disjoint components
    // → all joins/aggs linear in edges).
    "q_cdc_chunks", "q_kappa", "q_l_diversity", "q_calibration",
    "q_audio_tone", "q_modularity",
    // round 8: kmeans is k map-only scans + (k·dim)-key aggs (rows ×10,
    // state constant → linear); token_budget is one hash agg + one
    // per-source prefix window (sources fixed, rows ×10 → linear);
    // leakage_split composes the q_dedup_clusters CC (linear, capped
    // buckets) + a map-only split + two keyed aggs; source_overlap's
    // fan-out is sources² per shingle with shingles ×10 (salted) →
    // linear; anti_join is facts ×10 against a broadcast build side.
    "q_kmeans", "q_token_budget", "q_leakage_split", "q_source_overlap",
    "q_anti_join",
    // round-8 batch 2: auc/randomized_response are map-only md5 +
    // support-sized window / group agg (orders & customer ×10 →
    // linear); ks_test and t_closeness ride fixed-cardinality supports
    // (char bands, QI classes×bands) with counts ×10 → linear;
    // gini's key table stays sources-sized; heaps is two hash aggs +
    // a ≤64-band window (tokens AND salted types ×10 → linear);
    // link_predict rides the disjoint orders graph replicas with the
    // degree-64 wedge cap (wedges track edges → linear); pq_topk
    // trains constant-state codebooks (4 scans/round), encodes
    // map-only, and scans codes × 8 broadcast queries → linear.
    "q_auc", "q_ks_test", "q_t_closeness", "q_gini",
    "q_randomized_response", "q_heaps", "q_link_predict", "q_pq_topk",
    // round-8 batch 3: prf1/mcnemar ride the same map-only md5
    // channels (orders ×10 → linear, 3-key / 1-row aggs);
    // odds_ratio is a stratum-keyed conditional agg (strata fixed);
    // zipf adds a vocab agg + constant top-1024; semantic
    // decontamination is corpus × broadcast bench with corpus and
    // bench both ×10 (pairs ×100 by construction, per-pair O(dim)).
    "q_prf1", "q_mcnemar", "q_odds_ratio", "q_zipf",
    "q_semantic_decontaminate",
    // ivfpq trains constant-state codebooks (scans ×10 → linear),
    // encodes map-only, and probes 3/8 of the code partitions per
    // broadcast query — candidates ×10 → linear.
    "q_ivfpq_topk",
    // rake: per-doc windows + vocabulary agg (docs ×10 → linear);
    // bootstrap: map-only 16× explode + 17-key agg (rows ×10 →
    // linear).
    "q_rake", "q_bootstrap",
    // round-8 batches 5-7: confusion/class_balance/mutual_info/
    // info_gain are map-only md5 or column channels + cardinality-
    // sized cell aggs (orders ×10 → linear); rolling_median/ewma/
    // theil_sen ride the CONSTANT-length daily/weekly series fed by
    // ×10 orders (the cusum bounded-series contract — window cost
    // flat, feeding agg linear); grid_cluster's grid is EXTENT-
    // bounded: the point agg is the only corpus-sized stage and the
    // CC rounds run on the grid; split_perplexity rides the token-
    // salted documents (vocab AND tokens ×10 — the lm_score
    // shuffle-join contract); burstiness is two hash aggs + a
    // constant top-50 (salted vocab ×10 → linear); assortativity/
    // reciprocity ride the lineitem replicas (degree joins + 5-sum
    // fold / reversed-pair hash join — linear in edges; reciprocity's
    // %2000 residue key space SATURATES, so distinct edges grow
    // sublinearly by construction).
    "q_confusion", "q_class_balance", "q_mutual_info", "q_info_gain",
    "q_rolling_median", "q_ewma", "q_theil_sen", "q_grid_cluster",
    "q_split_perplexity", "q_burstiness", "q_assortativity",
    "q_reciprocity",
    // round-8 batches 8-11: srm/cuped/weighted_kappa are map-only md5
    // channels + cardinality-sized aggs over ×10 orders (linear);
    // dp_hist is one key agg + map-only noise (customer ×10, 5 cells
    // constant); funnel_time/cohort_ltv/session_path ride events
    // (users ×10 — per-user min-aggs / calendar-bounded grids /
    // session-bounded list aggs, all keyed → linear); smoothed_rates
    // is a 200-key agg + key-sized rank window; langid_eval is
    // map-only detection + cell agg over ×10 docs; quantile_norm's
    // per-source rank window is a distributed range sort (rows ×10 →
    // linear, rank table = max group size); seasonal_naive rides the
    // CONSTANT daily series; dedup_capture composes the two capped
    // pair pipelines (both individually probed linear) + one
    // pair-keyed join.
    "q_srm", "q_cuped", "q_weighted_kappa", "q_dp_hist", "q_funnel_time",
    "q_cohort_ltv", "q_session_path", "q_smoothed_rates", "q_langid_eval",
    "q_quantile_norm", "q_seasonal_naive", "q_dedup_capture",
    // round-8 batch 12: bloom_fpr builds the per-file index at ×10
    // keys (bit_or agg, bounded words/file) and probes a CONSTANT
    // 2000-key set (linear build, flat probe); weekly_churn is one
    // distinct (user, week) agg + a user-keyed self-join (users ×10 →
    // linear); lorenz is a key agg + a key-table window (keys ×10 →
    // linear in keys, constant 10-row output).
    "q_bloom_fpr", "q_weekly_churn", "q_lorenz")

  /** The sf1 ladder: the headline queries at sf0.1 and on the ×10
    * fixture ([[ScaleFixture]]: 150k customers, 50k documents) in ONE
    * JVM, same session and warmed JIT, so the growth ratio is clean of
    * cross-run VM noise. Blocking-family pair counts grow ~100× by
    * construction (fixed-cardinality demo keys, see
    * docs/SKEW_EVIDENCE_r03.md); dedup paths should grow ~10×.
    *
    * Each query gets one untimed warmup run per scale before its timed
    * run: timing single cold-ish runs in sequence let the FIRST query
    * at each scale absorb page-cache/JIT/codegen warmup (q_block_equi
    * read 29× while its superset q_pairs_assembly read 172× on the same
    * fixture, an ordering artifact, not a plan property). A failed
    * query reads sec −1.
    *
    * One `scale_probe` line, committed as SCALE_PROBE_r*.json and
    * inlined by [[Bench]] under `sf1_probe`.
    */
  private def scale(spark: SparkSession): Seq[String] = {
    build(spark, ScaleFixture)
    val run = new Runner(spark)
    def timeAll(dir: String): Seq[run.Run] = ScaleQueries.map { q =>
      val warm = run(q, dir)
      if (warm.err.nonEmpty) warm else run(q, dir)
    }
    val base = timeAll(BaseDir)
    val big = timeAll(ScaleFixture.dir)
    def sec(r: run.Run): Double = if (r.err.isEmpty) r.sec else -1.0
    def fmt(rs: Seq[run.Run]): String =
      rs.map(r => f""""${r.q}":{"sec":${sec(r)}%.2f,"rows":${r.rows}}""").mkString("{", ",", "}")
    val ratios = base.zip(big).map { case (b, s) =>
      f""""${b.q}":{"time_x":${sec(s) / math.max(sec(b), 0.001)}%.1f,"rows_x":${s.rows.toDouble / math.max(b.rows, 1)}%.1f}"""
    }.mkString("{", ",", "}")
    val violations = (base ++ big).flatMap(_.violations)
    println(s"""{"metric":"scale_probe","replicas":${ScaleFixture.replicas},"sf0.1":${fmt(base)},"sf1":${fmt(big)},"growth":$ratios,"single_task_violations":${jsonList(violations)}}""")
    violations
  }

  /** The sf10 rung's two query sets, see [[rung]]. */
  private[graft] val RungDedupQueries = Seq("q_jaccard_prefix", "q_minhash_lsh", "q_winnow", "q_novelty")
  private[graft] val RungLinkageQueries = Seq("q_block_equi", "q_pairs_assembly", "q_pattern_counts", "q_scoring")

  /** The sf10 rung: one decade past the sf1 ladder on the two flagship
    * families, with every stage in the artifact. Each query runs once,
    * cold (a warmup at 2B pairs would double a ~30-minute probe).
    *   - DEDUP set at TRUE sf10: the 100 token-salted document replicas
    *     of [[SweepFixture]] (500k docs). Salting keeps the duplicate
    *     rate constant, so the family's claim is LINEAR growth.
    *   - LINKAGE set at the ~2-BILLION-pair rung: 32 customer replicas
    *     with the demo blocking keys at FIXED cardinality, pairs ≈ 32² ×
    *     2.02M ≈ 2.07e9, ~10× the sf1 ladder's 202.7M. True sf10 under
    *     this contract would be 20B pairs, a different machine class;
    *     the 2B rung is the decade step in the quantity that grows.
    * One `sf10_probe` line, committed as SCALE_PROBE_r14.json.
    */
  private def rung(spark: SparkSession): Seq[String] = {
    Seq(RungDedup, RungPairs).foreach(build(spark, _))
    val run = new Runner(spark)
    def runAll(names: Seq[String], dir: String): Seq[run.Run] = names.map(run(_, dir))
    def fmt(rs: Seq[run.Run]): String = rs.map { r =>
      val stages = r.stages.sortBy(_.id).map(_.json).mkString("[", ",", "]")
      f""""${r.q}":{"sec":${r.sec}%.1f,"rows":${r.rows},"stages":$stages${r.errJson}}"""
    }.mkString("{", ",", "}")
    val dedup = runAll(RungDedupQueries, RungDedup.dir)
    val linkage = runAll(RungLinkageQueries, RungPairs.dir)
    val violations = (dedup ++ linkage).flatMap(_.violations)
    println(s"""{"metric":"sf10_probe","dedup_replicas":${RungDedup.replicas},"pairs_replicas":${RungPairs.replicas},"dedup_sf10":${fmt(dedup)},"linkage_2b_pairs":${fmt(linkage)},"single_task_violations":${jsonList(violations)}}""")
    violations
  }

  /** Queries ranked by sf1 median cost from a committed bench artifact
    * (json4s ships with Spark).
    */
  private def rankedBySf1Cost(path: String): Seq[(String, Double)] = {
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))))
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

  /** The sf10 top-`n` sweep: the `n` costliest queries of a committed
    * sf1 bench artifact (ranked at run time, not a hand list), minus
    * the queries tagged [[QueryTag.SweepExcluded]], on the ×100
    * [[SweepFixture]], with each query's top 6 stages by max(wall, run)
    * and every violating stage force-included. Streams one `[sweep]`
    * line per query to stderr, so a crash keeps partial evidence, then
    * one `sf10_sweep` line, committed as SCALE_SWEEP_r15.json.
    */
  private def sweep(spark: SparkSession, benchPath: String, topN: Int): Seq[String] = {
    val excluded = SparkEntry.registry.flatMap(q => q.sweepExcluded.map(q.name -> _)).toMap
    val picked = rankedBySf1Cost(benchPath)
      .filter { case (n, _) => SparkEntry.queries.contains(n) && !excluded.contains(n) }
      .take(topN)
    build(spark, SweepFixture)
    val run = new Runner(spark)
    val runs = picked.map { case (name, sf1Sec) =>
      val r = run(name, SweepFixture.dir)
      val heavy = run.log.topStages(r.stages, 6).map(_.json).mkString("[", ",", "]")
      val line =
        f""""$name":{"sec":${r.sec}%.1f,"sf1_sec":$sf1Sec%.2f,"x_vs_sf1":${r.sec / math.max(sf1Sec, 0.001)}%.1f,"rows":${r.rows},"top_stages":$heavy${r.errJson}}"""
      System.err.println(s"[sweep] $line")
      (r, line)
    }
    val excl = excluded.map { case (k, v) => s""""$k":"${v.replace("\"", "'")}"""" }
      .mkString("{", ",", "}")
    val violations = runs.flatMap(_._1.violations)
    println(s"""{"metric":"sf10_sweep","replicas":${SweepFixture.replicas},"n":${runs.size},"queries":${runs.map(_._2).mkString("{", ",", "}")},"excluded":$excl,"single_task_violations":${jsonList(violations)}}""")
    violations
  }

  /** The fixtures `Measure fixture <what> [replicas]` builds. */
  private def fixturesOf(what: String, replicas: Option[Int]): Seq[Fixture] = what match {
    case "scale" => Seq(ScaleFixture)
    case "rung" => Seq(RungDedup, RungPairs)
    case "sweep" => Seq(SweepFixture)
    case "pairs" => Seq(pairsFixture(replicas.getOrElse(
      throw new IllegalArgumentException("usage: Measure fixture pairs <replicas>"))))
    case "all" => Seq(ScaleFixture, SweepFixture, RungPairs)
    case other => throw new IllegalArgumentException(s"unknown fixture $other")
  }

  private val Usage = "usage: Measure profile|explain|conf q_a[,q_b] [sfDir] ..., " +
    "Measure scale|rung|sweep [sf1BenchJson] [n], or Measure fixture [scale|rung|sweep|pairs <replicas>|all]"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val rest = args.drop(1)
    require(Set("profile", "explain", "conf", "scale", "rung", "sweep", "fixture")(mode), Usage)
    require(!Set("profile", "explain", "conf")(mode) || rest.nonEmpty, Usage)
    def names = rest(0).split(",").toSeq
    def dir(default: String) = rest.lift(1).getOrElse(default)
    def int(i: Int, default: Int) = rest.lift(i).map(_.toInt).getOrElse(default)
    val fixtures =
      if (mode == "fixture") fixturesOf(rest.lift(0).getOrElse("all"), rest.lift(1).map(_.toInt)) else Nil
    val spark = GraftSession.build(s"graft-measure-$mode")
    val violations = mode match {
      case "profile" => profile(spark, names, dir(BaseDir), int(2, 2)); Nil
      case "explain" => explain(spark, names, dir("/root/testdata/sf0.01")); Nil
      case "conf" => conf(spark, names, dir(BaseDir), int(2, 3),
        rest.lift(3).getOrElse("base:;noaqe:spark.sql.adaptive.enabled=false")); Nil
      case "scale" => scale(spark)
      case "rung" => rung(spark)
      case "sweep" => sweep(spark, rest.lift(0).getOrElse("docs/BENCH_sf1_v9_r13.json"), int(1, 30))
      case "fixture" =>
        fixtures.foreach { f =>
          build(spark, f)
          println(s"""{"metric":"fixture","dir":"${f.dir}","replicas":${f.replicas},"tables":${jsonList(f.tables)}}""")
        }
        Nil
    }
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
