package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale probe (round-3 task 8): sf0.1 hides quadratic terms, so
  * this builds a 10×-sf0.1 (= sf1-equivalent: 150k customers, 50k
  * documents) fixture and times the headline queries at BOTH scales in
  * ONE JVM — same session, same warmed JIT — so the growth ratio is
  * clean of the cross-round VM noise that plagued rounds 1–2.
  *
  * Fixture construction (under /tmp/graft_scale_sf1, built once):
  *   - customer: 10 replicas with c_custkey offset by replica·15000.
  *     All OTHER columns are kept verbatim — in particular the demo
  *     blocking keys (nation×segment, 2-digit name suffix) keep their
  *     FIXED cardinality, which is precisely the superlinear shape the
  *     probe must expose (pair count grows ~100× for 10× rows).
  *   - documents: 10 replicas with doc_id offset by replica·5000 and
  *     every TOKEN salted with the replica index for replicas > 0.
  *     Token salting keeps each replica's internal near-dup structure
  *     identical to the original corpus while making shingles disjoint
  *     across replicas — the duplicate RATE stays constant as the
  *     corpus grows 10×, which is how real corpora scale (plain
  *     replication would instead give every doc 10 exact copies and
  *     explode LSH buckets quadratically).
  *
  * Growth expectations (asserted in the report, not hard-coded):
  * blocking-family pair counts grow ~100× (quadratic-in-rows because
  * the OUTPUT is the pair table — inherent to fixed-cardinality demo
  * keys, see docs/SKEW_EVIDENCE_r03.md); dedup paths grow ~10×
  * (near-linear: LSH bucket structure scales with the corpus).
  *
  * Usage: `sbt "runMain graft.ScaleProbe"` → one JSON line on stdout,
  * committed as SCALE_PROBE_r03.json and inlined by [[Bench]] under
  * `sf1_probe`.
  */
object ScaleProbe {

  private val FixtureDir = "/tmp/graft_scale_sf1"
  private val BaseDir = "/root/testdata/sf0.1"
  private val Replicas = 10

  private val HeadlineQueries = Seq(
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

  private def buildFixture(spark: SparkSession): Unit = {
    // Versioned sentinel: bump when the fixture CONTENTS change, or a
    // dir built by an earlier round silently lacks the new tables
    // (an unversioned _DONE skipped the events build entirely).
    // v9: fact tables written as 32 part files. The v8 explode-from-a-
    // single-base-file build produced ONE part file (= one row group =
    // ONE scan partition) per fact table, so every query whose first
    // stage is compute-heavy map work ran it single-threaded — the r12
    // sf1 bench measured q_bloom_index at 361.8 s on v8 (three md5s/row
    // on 1 core) where the engine shape is a 256-group hash agg. Real
    // data at this scale is many files; one giant row group measures a
    // layout pathology, not the engine. Dimensions stay single-file
    // (that IS their realistic layout).
    val done = new java.io.File(s"$FixtureDir/_DONE_v9_factparts")
    if (done.exists) return
    // part/nation/region: copied VERBATIM — dimensions stay fixed
    // while facts grow, the realistic star-schema scaling
    // (q_fk_integrity / q_join_estimate read lineitem×part at ×10
    // facts, 1× dim). nation/region joined in since v8 so the FULL
    // bench/oracle surface can run against this dir (round-12 sf1
    // ladder), not just the probe subset.
    Seq("part", "nation", "region").foreach(t =>
      spark.read.parquet(s"$BaseDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$FixtureDir/$t.parquet"))
    val customer = spark.read.parquet(s"$BaseDir/customer.parquet")
    val documents = spark.read.parquet(s"$BaseDir/documents.parquet")
    val nCust = 15000L
    val nDoc = 5000L
    val custAll = customer
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("c_custkey", col("c_custkey") + col("__r") * nCust)
      .drop("__r")
    custAll.repartition(32).write.mode("overwrite").parquet(s"$FixtureDir/customer.parquet")
    val docAll = documents
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("doc_id", col("doc_id") + col("__r") * nDoc)
      .withColumn("text",
        when(col("__r") === 0, col("text"))
          .otherwise(concat_ws(" ",
            transform(split(col("text"), " "),
              w => concat(w, lit("_"), col("__r").cast("string"))))))
      .drop("__r")
    docAll.repartition(32).write.mode("overwrite").parquet(s"$FixtureDir/documents.parquet")
    // events: 10 replicas with event_id offset and user_id offset —
    // the user population grows WITH the data (the correct scaling
    // story for keyed windows: per-user session state stays bounded).
    val events = spark.read.parquet(s"$BaseDir/events.parquet")
    val maxEvent = events.agg(max("event_id")).head.getLong(0) + 1
    events
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("event_id", col("event_id") + col("__r") * maxEvent)
      .withColumn("user_id", col("user_id") + col("__r") * 1000000L)
      .drop("__r")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$FixtureDir/events.parquet")
    // orders: 10 replicas with both keys offset — the pagerank graph
    // becomes 10 disjoint components (nodes and edges ×10), so the
    // per-round join+agg should scale LINEARLY; superlinear growth
    // here would flag a round-structure regression.
    val orders = spark.read.parquet(s"$BaseDir/orders.parquet")
    val maxOrder = orders.agg(max("o_orderkey")).head.getLong(0) + 1
    orders
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("o_orderkey", col("o_orderkey") + col("__r") * maxOrder)
      .withColumn("o_custkey", col("o_custkey") + col("__r") * 1000000L)
      .drop("__r")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$FixtureDir/orders.parquet")
    // embeddings: 10 replicas, replica r CIRCULARLY SHIFTED by r
    // positions — a permutation preserves every within-replica inner
    // product (the near-dup structure stays identical to the
    // original) while cross-replica cosines decorrelate, so the
    // near-dup RATE stays constant as the corpus grows 10× (the
    // vector-space analogue of the token salting above).
    val embeddings = spark.read.parquet(s"$BaseDir/embeddings.parquet")
    val nVec = embeddings.count()
    val dim = embeddings.select(size(col("embedding"))).head.getInt(0)
    embeddings
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("vec_id", col("vec_id") + col("__r") * nVec)
      .withColumn("embedding",
        transform(sequence(lit(0), lit(dim - 1)),
          i => element_at(col("embedding"),
            (pmod(i + col("__r"), lit(dim)) + 1).cast("int"))))
      .drop("__r")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$FixtureDir/embeddings.parquet")
    // lineitem: 10 replicas with order and supplier keys offset — the
    // kcore order–supplier graph becomes 10 disjoint components, so
    // fixed-round peeling should scale linearly in edges.
    val lineitem = spark.read.parquet(s"$BaseDir/lineitem.parquet")
    val maxLiOrder = lineitem.agg(max("l_orderkey")).head.getLong(0) + 1
    lineitem
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("l_orderkey", col("l_orderkey") + col("__r") * maxLiOrder)
      .withColumn("l_suppkey", col("l_suppkey") + col("__r") * 1000000L)
      .drop("__r")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$FixtureDir/lineitem.parquet")
    // supplier: replicas with the SAME suppkey offsets as lineitem.
    // q_sssp's seed filter (s_suppkey ≤ 5) matches only the base
    // replica, so the reached set stays CONSTANT while the edge table
    // grows ×10 — the probe isolates the relax join's edge-side cost.
    val supplier = spark.read.parquet(s"$BaseDir/supplier.parquet")
    supplier
      .withColumn("__r", explode(sequence(lit(0), lit(Replicas - 1))))
      .withColumn("s_suppkey", col("s_suppkey") + col("__r") * 1000000L)
      .drop("__r")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$FixtureDir/supplier.parquet")
    done.createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("graft-scale-probe")
    buildFixture(spark)
    // Fixture-only mode: (re)build the scale dir for the bench/oracle
    // ladder without the ~30 min probe pass.
    if (sys.env.get("SPARK_GRAFT_FIXTURE_ONLY").contains("1")) {
      println(s"""{"metric":"fixture_only","dir":"$FixtureDir"}""")
      spark.stop(); return
    }

    // One untimed warmup run per (query, scale) before the timed run:
    // the round-3 probe timed single cold-ish runs in sequence, so the
    // FIRST query at each scale absorbed page-cache/JIT/codegen
    // warmup while later queries rode the warmed state — q_block_equi
    // read 29× while its superset q_pairs_assembly read 172× on the
    // same fixture, an ordering artifact, not a plan property. Warm
    // timings make the growth ratio warm-vs-warm at both scales.
    // Per-query recovery: one failing query must cost its own row,
    // not the whole probe's output (rows = -1 marks the failure).
    def timeAll(dir: String): Seq[(String, Double, Long)] =
      HeadlineQueries.map { name =>
        try {
          SparkEntry.queries(name)(spark, dir).count()
          val t0 = System.nanoTime()
          val rows = SparkEntry.queries(name)(spark, dir).count()
          (name, (System.nanoTime() - t0) / 1e9, rows)
        } catch {
          case e: Throwable =>
            System.err.println(s"[probe] $name failed in $dir: ${e.getMessage}")
            (name, -1.0, -1L)
        }
      }

    val base = timeAll(BaseDir)
    val big = timeAll(FixtureDir)

    def fmt(xs: Seq[(String, Double, Long)]): String =
      xs.map { case (n, s, r) => f""""$n":{"sec":$s%.2f,"rows":$r}""" }
        .mkString("{", ",", "}")
    val ratios = base.zip(big).map { case ((n, s0, r0), (_, s1, r1)) =>
      f""""$n":{"time_x":${s1 / math.max(s0, 0.001)}%.1f,"rows_x":${r1.toDouble / math.max(r0, 1)}%.1f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","replicas":$Replicas,"sf0.1":${fmt(base)},"sf1":${fmt(big)},"growth":$ratios}""")
    spark.stop()
  }
}
