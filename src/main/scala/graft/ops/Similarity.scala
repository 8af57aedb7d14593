package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Floating-point discipline for oracle parity: element products are
  * computed on DOUBLE casts and folded LEFT-TO-RIGHT (Spark
  * `aggregate` and DuckDB `list_reduce` both fold sequentially), so
  * dot products are bit-identical across engines; ranking ties are
  * broken on the rounded similarity + unique id, never on raw floats.
  *
  * Scale posture: brute-force top-k is the correctness baseline
  * (cross join pruned to the query set — fine for |queries| ≪ corpus,
  * which is the ANN-query shape). The scale path is random-hyperplane
  * LSH: b deterministic sign bits per vector → equi-join on bucket →
  * exact cosine within bucket only.
  */
object Similarity {

  /** Left-to-right dot product of two float-array columns on doubles —
    * a codegen'd Catalyst expression ([[graft.expr.DotProduct]]): the
    * Column-algebra fold (`OpsSpec.dotHof`, its parity reference) is
    * interpreted (higher-order functions never enter whole-stage
    * codegen), which made the dot product the hot-path cost of every
    * similarity operator. Results are bit-identical (same IEEE fold
    * order; property-tested).
    */
  def dot(a: Column, b: Column): Column = graft.expr.VectorExprs.dot_product(a, b)

  /** DuckDB mirror of [[dot]] over 1-based list expressions. */
  def dotSql(aExpr: String, bExpr: String, dim: Int): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(generate_series(1, $dim),
       |    i -> CAST($aExpr[i] AS DOUBLE) * CAST($bExpr[i] AS DOUBLE))),
       |  (acc, x) -> acc + x)""".stripMargin.replace("\n", " ")

  /** Cosine similarity: dot / (‖a‖·‖b‖), all folds sequential. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  def cosineSql(aExpr: String, bExpr: String, dim: Int): String =
    s"(${dotSql(aExpr, bExpr, dim)}) / (sqrt(${dotSql(aExpr, aExpr, dim)}) * sqrt(${dotSql(bExpr, bExpr, dim)}))"

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded), ranked by rounded similarity
    * (6 dp) descending with id tie-break. Pre-computes norms once per
    * side; the corpus side is scanned once per query partition —
    * Catalyst broadcasts the (small) query side.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = graft.util.Parallelism.ensure(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", sqrt(dot(col("__cv"), col("__cv"))))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", sqrt(dot(col("__qv"), col("__qv"))))
    val sim = broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6))
    sim
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim)
    * in DuckDB SQL: an LCG-mixed value in [−0.5, 0.5) — the closed form
    * [[graft.expr.VectorExprs.lshBucket]] computes, so LSH bucketing
    * is oracle-checkable.
    */
  private val P = 2147483647L
  def planeComponentSql(plane: Int, dExpr: String, seed: Long): String = {
    val j = s"($dExpr + ${seed + plane * 10007L})"
    s"(CAST((((($j * $j) % $P) * 48271 + $j) % $P) AS DOUBLE) / $P) - 0.5"
  }

  /** Random-hyperplane LSH bucket id: `planes` sign bits from
    * deterministic hyperplanes. Vectors in the same bucket are cosine-
    * close with high probability; the ANN query joins on the bucket
    * then scores exactly — sub-quadratic at corpus scale.
    *
    * Codegen'd and FUSED ([[graft.expr.LshBucketExpr]]): one array
    * pass for all planes, vs `planes` interpreted HOF folds in
    * `OpsSpec.lshBucketHof`, its parity reference. Bit-identical
    * per-plane accumulation order.
    */
  def lshBucket(vec: Column, planes: Int, seed: Long = 42L): Column =
    graft.expr.VectorExprs.lsh_bucket(vec, planes, seed)

  def lshBucketSql(vecExpr: String, dim: Int, planes: Int, seed: Long = 42L): String = {
    val bits = (0 until planes).map { p =>
      val proj =
        s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |  list_transform(generate_series(1, $dim),
           |    i -> CAST($vecExpr[i] AS DOUBLE) * (${planeComponentSql(p, "i", seed)}))),
           |  (acc, x) -> acc + x)""".stripMargin.replace("\n", " ")
      s"(CASE WHEN $proj > 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }
    bits.mkString("(", " + ", ")")
  }

  /** Brute-force near-duplicate pairs: exact cosine for EVERY distinct
    * pair (id_a < id_b), thresholded. O(n²) — the ground-truth
    * generator for recall evaluation on slices, not a scale path.
    */
  def bruteForceNearDups(
      df: DataFrame, idCol: String, vecCol: String, minCosine: Double): DataFrame = {
    val b = graft.util.Parallelism.ensure(df)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val l = b.toDF("id_a", "v_a", "norm_a")
    val r = b.toDF("id_b", "v_b", "norm_b")
    l.crossJoin(r)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("v_a"), col("v_b")) / (col("norm_a") * col("norm_b")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Recall of an approximate pair set against an exact one: the
    * fraction of ground-truth pairs the ANN path found. One row
    * (n_exact, n_found, recall) — the metric every approximate index
    * must report before it replaces a brute-force path on real data.
    * Both inputs are keyed by `keys` (default (id_a, id_b), both sides
    * canonicalized id_a < id_b by construction in this package).
    */
  def pairRecall(
      exact: DataFrame, approx: DataFrame,
      keys: Seq[String] = Seq("id_a", "id_b")): DataFrame = {
    val e = exact.select(keys.map(col): _*)
    val a = approx.select(keys.map(col): _*)
    e.join(a, keys, "left_semi").agg(count(lit(1)).as("n_found"))
      .crossJoin(e.agg(count(lit(1)).as("n_exact")))
      .select(col("n_exact"), col("n_found"),
        (col("n_found").cast("double") / col("n_exact")).as("recall"))
  }

  /** Per-table seed salt: table 0 keeps the base seed, so
    * `tables = 1` reproduces the single-table bucketing bit-for-bit.
    */
  def tableSeed(seed: Long, table: Int): Long = seed + 1000003L * table

  /** LSH-bucketed near-duplicate pairs: exact cosine computed only
    * within buckets. Output (id_a, id_b, cosine) with cosine ≥ min,
    * distinct pairs, id_a < id_b.
    *
    * RECALL is the single-table curve p^planes with
    * p = 1 − angle/π — steep: at cosine 0.4, 8 planes find only ~2.5%
    * of true pairs (measured 1.7% on the test corpus by
    * [[pairRecall]]). `tables` is the standard fix — L independent
    * hash tables (salted hyperplane seeds), candidates = the UNION of
    * per-table bucket joins, recall = 1 − (1 − p^planes)^L. Candidate
    * pairs are DEDUPLICATED BEFORE the cosine evaluation, so a pair
    * found by several tables costs its dot product once. Fewer planes
    * + more tables trades candidate volume for recall; e.g.
    * (planes=4, tables=16) ⇒ ~94% recall at cosine 0.4.
    *
    * `maxBucketSize` is the degenerate-corpus guard, applied per
    * (table, bucket): a bucket of f vectors emits f² pairs, so one
    * boilerplate bucket holding 10⁶ embeddings of a 100 TB corpus is a
    * 10¹² explosion. Over-full buckets are dropped via a broadcast
    * anti-join against the (small) hot-bucket list — same shape as the
    * shingle doc-frequency cap.
    */
  def lshNearDups(
      df: DataFrame, idCol: String, vecCol: String,
      planes: Int, minCosine: Double, seed: Long = 42L,
      maxBucketSize: Option[Long] = None, tables: Int = 1): DataFrame = {
    // Norms materialized per VECTOR (n of them), not per pair — the
    // in-bucket pair count is quadratic in bucket size and each cosine
    // should cost exactly one dot product.
    val base = graft.util.Parallelism.ensure(df)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val b0 = base.select(col("id"), col("v"), col("norm"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"), lshBucket(col("v"), planes, tableSeed(seed, t)).as("bucket"))): _*)).as("tb"))
      .select(col("id"), col("v"), col("norm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val b = maxBucketSize.fold(b0) { cap =>
      val hot = b0.groupBy("tbl", "bucket").agg(count(lit(1)).as("__n"))
        .filter(col("__n") > cap).select("tbl", "bucket")
      // using-column joins move the keys first — re-pin column order.
      b0.join(broadcast(hot), Seq("tbl", "bucket"), "left_anti")
        .select("id", "v", "norm", "tbl", "bucket")
    }
    val cand = b.select(col("id").as("id_a"), col("tbl"), col("bucket"))
      .join(b.select(col("id").as("id_b"), col("tbl"), col("bucket")), Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("v_a"), col("norm").as("norm_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("v").as("v_b"), col("norm").as("norm_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("v_a"), col("v_b")) / (col("norm_a") * col("norm_b")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  // ---- IVF (inverted-file) ANN — the partition-based scale path ----
  //
  // LSH buckets by random geometry; IVF buckets by DATA geometry: a
  // small set of centroids partitions the corpus into inverted lists,
  // a query probes only the `nprobe` lists nearest its own vector.
  // Candidate volume ≈ corpus · nprobe / K instead of the LSH
  // collision curve, and the index is rebuildable in ONE map-only
  // corpus scan ([[graft.expr.NearestCentroidExpr]]).

  /** Deterministic seed centroids: the `k` corpus vectors with the
    * SMALLEST ids, in id order — reproducible across engines, which is
    * what makes the whole IVF path oracle-checkable (k-means centroids
    * would differ run-to-run and engine-to-engine). For quality on a
    * real corpus, [[kmeansCentroidsMicro]] refines these same seeds
    * (quantized) with Lloyd's rounds.
    * Collects k·dim floats to the driver — the index metadata, tiny by
    * construction (k ≤ thousands).
    */
  def seedCentroids(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int): Array[Array[Float]] =
    corpus.select(col(idCol), col(vecCol)).orderBy(col(idCol)).limit(k)
      .collect().map(_.getSeq[Float](1).toArray)

  /** ENGINE-EXACT Lloyd's refinement in integer micro-units (float
    * means would be order-dependent across engines): every coordinate is
    * quantized ONCE to `floor(x·10⁶)` (exact double math in both
    * engines), assignment is argmin of the integer squared-Euclidean
    * distance with `(dist, cid)` tie order, and each update is the
    * truncating integer mean `(s − s % n) / n` (remainder subtraction
    * — `%` follows the dividend's sign in Scala, Spark, and DuckDB,
    * so the division is exact and identical everywhere). Empty
    * clusters keep their previous centroid. Seeds = the first `k`
    * rows by id, quantized.
    *
    * Output: `(cid, pos, c_micro, n_members)` — the final centroid
    * matrix exploded to k·dim rows plus the last assignment's cluster
    * sizes. Scale shape: per round ONE map-only codegen scan (the k
    * distance expressions are unrolled literals — no join, no corpus
    * inflation) into a (k·dim)-key hash agg collected to the driver;
    * driver state is k·dim longs, never corpus-sized.
    */
  def kmeansCentroidsMicro(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, rounds: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val Array((cents, sizes)) =
      kmeansLockstepMicro(corpus, idCol, vecCol, Seq((1, dim, k)), rounds)
    cents.zipWithIndex.flatMap { case (arr, cid) =>
      arr.zipWithIndex.map { case (v, pos) => (cid, pos, v, sizes.getOrElse(cid, 0L)) }
    }.toIndexedSeq.toDF("cid", "pos", "c_micro", "n_members")
  }

  /** LOCKSTEP micro-k-means: train several INDEPENDENT
    * [[kmeansCentroidsMicro]] instances — each over a contiguous
    * 1-based slice `(from, subd)` of the quantized vector with its own
    * `k` — in one synchronized round loop, so each round is ONE scan +
    * ONE (Σ kᵢ·subdᵢ)-key hash agg + ONE driver collect instead of one
    * per instance. The per-instance math is UNCHANGED bit for bit
    * (assignment sees only that instance's centroids; updates are the
    * same truncating integer means; seeds are the same first-maxK-by-id
    * rows, sliced), so PQ codebooks and the IVF coarse router trained
    * here are identical to sequential training — IvfSpec pins this.
    *
    * Motivation (round-15 profile): [[pqCodebooksMicro]] ran m
    * sequential trainings = m·(rounds+1) corpus scans, every scan a
    * SINGLE-TASK stage (small parquet reads as one partition and the
    * k·dim distance arithmetic rode raw scan parallelism — the
    * q_cdc_chunks lesson, unguarded here). Lockstep + the
    * [[graft.util.Parallelism.ensure]] guard turn q_ivfpq_topk's 15
    * training jobs into 3, all 32-wide. At 100 TB `ensure` is a no-op
    * and the win is the m× fewer corpus passes.
    *
    * Returns per instance (in `specs` order): the final centroid
    * matrix and the last assignment's cluster sizes.
    */
  private[graft] def kmeansLockstepMicro(corpus: DataFrame, idCol: String,
      vecCol: String, specs: Seq[(Int, Int, Int)],
      rounds: Int): Array[(Array[Array[Long]], Map[Int, Long])] = {
    require(rounds >= 1, "need rounds >= 1")
    specs.foreach { case (from, subd, k) =>
      require(from >= 1 && subd >= 1 && k >= 2,
        s"bad kmeans spec (from=$from, subd=$subd, k=$k)")
    }
    val q = graft.util.Parallelism.ensure(corpus)
      .select(col(idCol).cast("long").as("id"),
        expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("q"))
    def sub(t: Int): Column = {
      val (from, subd, _) = specs(t)
      slice(col("q"), from, subd)
    }
    // Seeds: the first maxK rows by id, once; instance t takes its
    // first k_t rows' slice — the same values sequential training
    // collected per instance (quantization is elementwise, so slicing
    // after quantization ≡ quantizing the sliced expression).
    val maxK = specs.map(_._3).max
    val seedRows = q.orderBy(col("id")).limit(maxK).collect()
      .map(_.getSeq[Long](1).toArray)
    var cents: Array[Array[Array[Long]]] = specs.zipWithIndex.toArray
      .map { case ((from, subd, k), _) =>
        seedRows.take(k).map(_.slice(from - 1, from - 1 + subd))
      }
    var sizes: Array[Map[Int, Long]] = Array.fill(specs.size)(Map.empty)
    def sqd(qs: Column, cArr: Array[Long]): Column =
      aggregate(zip_with(qs, typedLit(cArr.toSeq), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    for (_ <- 0 until rounds) {
      // One projection carrying every instance's distance columns …
      val dCols = specs.zipWithIndex.flatMap { case ((_, _, k), t) =>
        (0 until k).map(c => sqd(sub(t), cents(t)(c)).as(s"__d${t}_$c"))
      }
      val withD = q.select(col("q") +: dCols.toIndexedSeq: _*)
      // … then per instance the same (dist, cid) argmin as sequential
      // training: first (= smallest) cid achieving the min.
      val cidCols = specs.zipWithIndex.map { case ((_, _, k), t) =>
        val mind = least((0 until k).map(c => col(s"__d${t}_$c")): _*)
        coalesce((0 until k).map(c =>
          when(col(s"__d${t}_$c") === mind, lit(c))): _*).as(s"__cid$t")
      }
      val assigned = withD.select(col("q") +: cidCols.toIndexedSeq: _*)
      // One explode over instances, one posexplode over that
      // instance's slice, one hash agg — the union of the sequential
      // per-instance (cid, pos) aggregations, keyed by instance tag.
      val stats = assigned
        .select(explode(array(specs.zipWithIndex.map { case (_, t) =>
          struct(lit(t).as("t"), col(s"__cid$t").as("cid"), sub(t).as("sub"))
        }: _*)).as("e"))
        .select(col("e.t").as("t"), col("e.cid").as("cid"),
          posexplode(col("e.sub")))
        .groupBy("t", "cid", "pos")
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byInst = stats.groupBy(_.getInt(0))
      specs.indices.foreach { t =>
        val byCid = byInst.getOrElse(t, Array.empty).groupBy(_.getInt(1))
        sizes(t) = byCid.map { case (cid, rs) => cid -> rs.head.getLong(4) }
        cents(t) = cents(t).zipWithIndex.map { case (prev, cid) =>
          byCid.get(cid).fold(prev) { rs =>
            val arr = prev.clone()
            rs.foreach { r =>
              val (pos, s, n) = (r.getInt(2), r.getLong(3), r.getLong(4))
              arr(pos) = (s - s % n) / n
            }
            arr
          }
        }
      }
    }
    specs.indices.toArray.map(t => (cents(t), sizes(t)))
  }

  /** DuckDB mirror of [[kmeansCentroidsMicro]] as a chained CTE pyramid
    * ending in `km(cid, pos, c_micro, n_members)` — one
    * assign/min/sum/update block per round, every round state
    * MATERIALIZED (each is referenced twice; un-materialized CTE
    * chains re-derive the whole prefix per reference). `vecExpr` is a
    * 1-based list column on `table`.
    */
  def kmeansMicroSqlCtes(table: String, idExpr: String, vecExpr: String,
      k: Int, dim: Int, rounds: Int, prefix: String = "k"): String = {
    val P = prefix
    val quant = s"list_transform(generate_series(1, $dim), i -> " +
      s"CAST(floor(CAST($vecExpr[i] AS DOUBLE) * 1000000) AS BIGINT))"
    val head =
      s"""${P}q AS MATERIALIZED (
         |  SELECT $idExpr AS id, $quant AS q FROM $table),
         |${P}c0 AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY id) - 1 AS cid, q AS c
         |  FROM ${P}q ORDER BY id LIMIT $k)""".stripMargin
    val blocks = (1 to rounds).map { r =>
      val p = r - 1
      s"""${P}a$r AS (
         |  SELECT ${P}q.id, ${P}c$p.cid,
         |    list_sum(list_transform(generate_series(1, $dim), i ->
         |      (${P}q.q[i] - ${P}c$p.c[i]) * (${P}q.q[i] - ${P}c$p.c[i]))) AS d
         |  FROM ${P}q, ${P}c$p),
         |${P}m$r AS (SELECT id, min(d) AS md FROM ${P}a$r GROUP BY 1),
         |${P}b$r AS MATERIALIZED (
         |  SELECT a.id, min(a.cid) AS cid
         |  FROM ${P}a$r a JOIN ${P}m$r m ON a.id = m.id AND a.d = m.md GROUP BY 1),
         |${P}s$r AS (
         |  SELECT b.cid, u.i AS pos, CAST(sum(${P}q.q[u.i]) AS BIGINT) AS s,
         |         count(*) AS n
         |  FROM ${P}b$r b JOIN ${P}q ON ${P}q.id = b.id,
         |       unnest(generate_series(1, $dim)) u(i)
         |  GROUP BY 1, 2),
         |${P}n$r AS (
         |  SELECT cid, list((s - (s % n)) // n ORDER BY pos) AS c, min(n) AS n
         |  FROM ${P}s$r GROUP BY 1),
         |${P}c$r AS MATERIALIZED (
         |  SELECT p.cid, coalesce(${P}n$r.c, p.c) AS c, coalesce(${P}n$r.n, 0) AS n
         |  FROM ${P}c$p p LEFT JOIN ${P}n$r USING (cid))""".stripMargin
    }
    val fin =
      s"""${P}m AS (
         |  SELECT CAST(cid AS INT) AS cid, CAST(u.i - 1 AS INT) AS pos,
         |         c[u.i] AS c_micro, CAST(n AS BIGINT) AS n_members
         |  FROM ${P}c$rounds, unnest(generate_series(1, $dim)) u(i))""".stripMargin
    (head +: blocks :+ fin).mkString(",\n")
  }

  /** Product-quantization codebooks (Jégou et al. 2011) in the
    * engine-exact integer micro-unit regime: the vector is cut into
    * `m` contiguous subspaces of `dim/m` components and each subspace
    * gets its own `ksub`-codeword codebook from
    * [[kmeansCentroidsMicro]] over the corpus's subvectors. Driver
    * state: m·ksub·(dim/m) = dim·ksub longs — index metadata, never
    * corpus-sized. Returns `books(s)(c)` = codeword c of subspace s.
    */
  def pqCodebooksMicro(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ksub: Int, rounds: Int): Array[Array[Array[Long]]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    val subd = dim / m
    // The m subspace trainings are independent — run them in lockstep
    // (one scan/agg/collect per round for ALL subspaces instead of per
    // subspace; identical books, see [[kmeansLockstepMicro]]).
    kmeansLockstepMicro(corpus, idCol, vecCol,
      (0 until m).map(s => (s * subd + 1, subd, ksub)), rounds)
      .map(_._1)
  }

  /** PQ asymmetric-distance top-k (Jégou et al. 2011) — the
    * memory-bound ANN scale path: each corpus vector is stored as `m`
    * small codes (here m bytes vs dim floats — a 32× compression at
    * dim=64/m=8), and search scans CODES, not vectors, summing exact
    * integer squared distances between the query's subvectors and the
    * codewords the doc's codes name. Everything is micro-unit integer
    * ([[kmeansCentroidsMicro]] codebooks, floor-quantized queries), so
    * ranks are engine-exact — no float ADC table.
    *
    * Plan shape at scale: codebook training is ONE lockstep k-means
    * micro loop for all m subspaces ([[kmeansLockstepMicro]] — one
    * map-only scan + (m·ksub·subd)-key agg per round, 32-wide under
    * the parallelism guard); encoding is ONE map-only codegen scan (m·ksub unrolled
    * literal distances, no join); search is the encoded table × the
    * BROADCAST query set — a linear scan with O(m) adds per pair,
    * the PQ contract (compose with the IVF router for sublinear
    * probe counts). Final per-query top-k rides a candidate-only
    * window. Ties break (dist, neighbor_id).
    */
  def pqTopK(corpus: DataFrame, queryIds: Seq[Long], idCol: String,
      vecCol: String, dim: Int, m: Int, ksub: Int, rounds: Int,
      k: Int): DataFrame = {
    val subd = dim / m
    val books = pqCodebooksMicro(corpus, idCol, vecCol, dim, m, ksub, rounds)
    val q = graft.util.Parallelism.ensure(corpus)
      .select(col(idCol).cast("long").as("id"),
        expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("q"))
    def sqd(qs: Column, cw: Column): Column =
      aggregate(zip_with(qs, cw, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val encoded = (0 until m).foldLeft(q) { (df, s) =>
      val dists = (0 until ksub).map(c =>
        sqd(slice(col("q"), s * subd + 1, subd),
          typedLit(books(s)(c).toSeq)).as(s"__d${s}_$c"))
      val withD = df.select(df.columns.map(col).toIndexedSeq ++ dists: _*)
      val mind = least((0 until ksub).map(c => col(s"__d${s}_$c")): _*)
      val code = coalesce((0 until ksub).map(c =>
        when(col(s"__d${s}_$c") === mind, lit(c))): _*)
      withD.withColumn(s"code$s", code)
        .drop((0 until ksub).map(c => s"__d${s}_$c"): _*)
    }
    val codes = encoded.select(col("id").as("neighbor_id") +:
      (0 until m).map(s => col(s"code$s")): _*)
    val queries = q.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("q").as("__qq"))
    val adc = (0 until m).map { s =>
      val bookLit = typedLit(books(s).map(_.toSeq).toSeq)
      sqd(slice(col("__qq"), s * subd + 1, subd),
        get(bookLit, col(s"code$s")))
    }.reduce(_ + _)
    codes.crossJoin(broadcast(queries))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", adc)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(asc("adc_dist"), asc("neighbor_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adc_dist", "rank")
  }

  /** DuckDB mirror of [[pqTopK]]: m [[kmeansMicroSqlCtes]] pyramids
    * (prefixes `p0..`), per-subspace encode via the same
    * min-dist/min-cid argmin, query rows reusing the encode distance
    * table (queries ⊂ corpus, ids `< nQueries`), and the ADC sum
    * joined code→codeword. Assumes `idExpr` yields 0-based ids so
    * `id < nQueries` names the query set.
    */
  def pqOracleSql(table: String, idExpr: String, vecExpr: String,
      dim: Int, m: Int, ksub: Int, rounds: Int, nQueries: Int,
      k: Int): String = {
    val subd = dim / m
    val pyramids = (0 until m).map { s =>
      kmeansMicroSqlCtes(table, idExpr,
        s"($vecExpr)[${s * subd + 1}:${(s + 1) * subd}]",
        ksub, subd, rounds, s"p$s")
    }
    val encodes = (0 until m).map { s =>
      s"""ed$s AS (
         |  SELECT pq.id, c.cid,
         |    list_sum(list_transform(generate_series(1, $subd), i ->
         |      (pq.q[i] - c.c[i]) * (pq.q[i] - c.c[i]))) AS d
         |  FROM p${s}q pq, p${s}c$rounds c),
         |em$s AS (SELECT id, min(d) AS md FROM ed$s GROUP BY 1),
         |e$s AS MATERIALIZED (
         |  SELECT a.id, min(a.cid) AS code$s
         |  FROM ed$s a JOIN em$s m ON a.id = m.id AND a.d = m.md GROUP BY 1),
         |lq$s AS MATERIALIZED (
         |  SELECT id AS qid, cid, d FROM ed$s WHERE id < $nQueries)""".stripMargin
    }
    val lutJoins = (0 until m).map { s =>
      if (s == 0) s"JOIN lq0 l0 ON l0.cid = e0.code0"
      else s"JOIN lq$s l$s ON l$s.cid = e$s.code$s AND l$s.qid = l0.qid"
    }.mkString("\n       ")
    val eJoins = (1 until m).map(s => s"JOIN e$s USING (id)").mkString(" ")
    val dSum = (0 until m).map(s => s"l$s.d").mkString(" + ")
    val adc =
      s"""adc AS (
         |  SELECT l0.qid AS query_id, e0.id AS neighbor_id,
         |         CAST($dSum AS BIGINT) AS adc_dist
         |  FROM e0 $eJoins
         |       $lutJoins
         |  WHERE e0.id <> l0.qid)""".stripMargin
    s"""WITH ${(pyramids ++ encodes :+ adc).mkString(",\n")}
       |SELECT query_id, neighbor_id, adc_dist,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
       |FROM adc
       |QUALIFY rank <= $k""".stripMargin
  }

  /** IVF-PQ search (Jégou et al. 2011, the FAISS IVFx,PQy shape with
    * by_residual=false) — the full billion-scale ANN serving stack:
    * a coarse [[kmeansCentroidsMicro]] router partitions the corpus
    * into `kCoarse` inverted lists, PQ codes compress every vector to
    * `m` small codes, and a query scans ONLY the `nprobe` nearest
    * lists' codes with the exact integer ADC sum. Work per query
    * drops from |corpus|·O(m) ([[pqTopK]]) to
    * ~|corpus|·nprobe/kCoarse·O(m) — the sublinear probe contract —
    * at the standard recall trade (a true neighbor routed to an
    * unprobed list is missed; that is IVF's contract, measured by the
    * q_ann_recall idiom, not hidden). Everything is micro-unit
    * integer, so the probe sets, codes, and ranks are engine-exact.
    *
    * Plan shape: router + codebooks are driver-sized literals
    * (kCoarse·dim + dim·ksub longs); assignment + encode is ONE
    * map-only codegen scan; search is an EQUI-JOIN of the code table
    * against the broadcast (query × probe-list) pairs on the coarse
    * cid — at scale the inverted lists are the cid partitions, so
    * only probed partitions are touched. Top-k rides a
    * candidate-only window. Ties break (dist, neighbor_id);
    * probe ranking ties break (dist, cid).
    */
  def ivfPqTopK(corpus: DataFrame, queryIds: Seq[Long], idCol: String,
      vecCol: String, dim: Int, kCoarse: Int, coarseRounds: Int,
      nprobe: Int, m: Int, ksub: Int, rounds: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= kCoarse,
      s"need 1 <= nprobe <= kCoarse, got $nprobe / $kCoarse")
    val subd = dim / m
    // Coarse router and PQ codebooks are independent trainings
    // (by_residual=false: codebooks see raw vectors, not residuals) —
    // when their round counts agree, train all m+1 in ONE lockstep
    // loop (3 jobs total instead of 3·(m+1); identical models, see
    // [[kmeansLockstepMicro]]).
    val (coarse, books) =
      if (coarseRounds == rounds) {
        val all = kmeansLockstepMicro(corpus, idCol, vecCol,
          (1, dim, kCoarse) +: (0 until m).map(s => (s * subd + 1, subd, ksub)),
          rounds)
        (all.head._1, all.tail.map(_._1))
      } else {
        val crows = kmeansCentroidsMicro(
          corpus, idCol, vecCol, kCoarse, dim, coarseRounds).collect()
        val c = Array.fill(kCoarse)(new Array[Long](dim))
        crows.foreach(r => c(r.getInt(0))(r.getInt(1)) = r.getLong(2))
        (c, pqCodebooksMicro(corpus, idCol, vecCol, dim, m, ksub, rounds))
      }
    val q = graft.util.Parallelism.ensure(corpus)
      .select(col(idCol).cast("long").as("id"),
        expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("q"))
    def sqd(qs: Column, cw: Column): Column =
      aggregate(zip_with(qs, cw, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    // Coarse assignment: argmin (dist, cid) over unrolled literals —
    // the same map-only shape as the PQ encode below.
    val gdists = (0 until kCoarse).map(c =>
      sqd(col("q"), typedLit(coarse(c).toSeq)).as(s"__g$c"))
    val gmin = least((0 until kCoarse).map(c => col(s"__g$c")): _*)
    val assigned = q.select(col("id") +: col("q") +: gdists: _*)
      .withColumn("cid", coalesce((0 until kCoarse).map(c =>
        when(col(s"__g$c") === gmin, lit(c))): _*))
      .drop((0 until kCoarse).map(c => s"__g$c"): _*)
    val encoded = (0 until m).foldLeft(assigned) { (df, s) =>
      val dists = (0 until ksub).map(c =>
        sqd(slice(col("q"), s * subd + 1, subd),
          typedLit(books(s)(c).toSeq)).as(s"__d${s}_$c"))
      val withD = df.select(df.columns.map(col).toIndexedSeq ++ dists: _*)
      val mind = least((0 until ksub).map(c => col(s"__d${s}_$c")): _*)
      val code = coalesce((0 until ksub).map(c =>
        when(col(s"__d${s}_$c") === mind, lit(c))): _*)
      withD.withColumn(s"code$s", code)
        .drop((0 until ksub).map(c => s"__d${s}_$c"): _*)
    }
    val codes = encoded.select(col("id").as("neighbor_id") +: col("cid") +:
      (0 until m).map(s => col(s"code$s")): _*)
    // Query probe lists: nprobe nearest coarse cids by (dist, cid).
    val probeArr = array_sort(array((0 until kCoarse).map(c =>
      struct(sqd(col("q"), typedLit(coarse(c).toSeq)).as("d"),
        lit(c).as("c"))): _*))
    val queries = q.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("q").as("__qq"),
        explode(slice(probeArr, 1, nprobe)).as("__probe"))
      .select(col("query_id"), col("__qq"), col("__probe.c").as("cid"))
    val adc = (0 until m).map { s =>
      val bookLit = typedLit(books(s).map(_.toSeq).toSeq)
      sqd(slice(col("__qq"), s * subd + 1, subd),
        get(bookLit, col(s"code$s")))
    }.reduce(_ + _)
    codes.join(broadcast(queries), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", adc)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(asc("adc_dist"), asc("neighbor_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "adc_dist", "rank")
  }

  /** DuckDB mirror of [[ivfPqTopK]]: the coarse [[kmeansMicroSqlCtes]]
    * pyramid (prefix `g`) + its final-round assignment, a per-query
    * nprobe probe list ranked (dist, cid), the m PQ pyramids/encodes
    * of [[pqOracleSql]], and the ADC join restricted to candidates
    * whose coarse cid is probed by the query.
    */
  def ivfPqOracleSql(table: String, idExpr: String, vecExpr: String,
      dim: Int, kCoarse: Int, coarseRounds: Int, nprobe: Int,
      m: Int, ksub: Int, rounds: Int, nQueries: Int, k: Int): String = {
    val subd = dim / m
    val coarsePyr = kmeansMicroSqlCtes(
      table, idExpr, vecExpr, kCoarse, dim, coarseRounds, "g")
    val assign =
      s"""gad AS MATERIALIZED (
         |  SELECT gq.id, c.cid,
         |    list_sum(list_transform(generate_series(1, $dim), i ->
         |      (gq.q[i] - c.c[i]) * (gq.q[i] - c.c[i]))) AS d
         |  FROM gq, gc$coarseRounds c),
         |gam AS (SELECT id, min(d) AS md FROM gad GROUP BY 1),
         |gas AS MATERIALIZED (
         |  SELECT a.id, min(a.cid) AS cid
         |  FROM gad a JOIN gam mm ON a.id = mm.id AND a.d = mm.md GROUP BY 1),
         |gpr AS MATERIALIZED (
         |  SELECT id AS qid, cid FROM (
         |    SELECT id, cid,
         |           row_number() OVER (PARTITION BY id ORDER BY d, cid) AS pr
         |    FROM gad WHERE id < $nQueries)
         |  WHERE pr <= $nprobe)""".stripMargin
    val pyramids = (0 until m).map { s =>
      kmeansMicroSqlCtes(table, idExpr,
        s"($vecExpr)[${s * subd + 1}:${(s + 1) * subd}]",
        ksub, subd, rounds, s"p$s")
    }
    val encodes = (0 until m).map { s =>
      s"""ed$s AS (
         |  SELECT pq.id, c.cid,
         |    list_sum(list_transform(generate_series(1, $subd), i ->
         |      (pq.q[i] - c.c[i]) * (pq.q[i] - c.c[i]))) AS d
         |  FROM p${s}q pq, p${s}c$rounds c),
         |em$s AS (SELECT id, min(d) AS md FROM ed$s GROUP BY 1),
         |e$s AS MATERIALIZED (
         |  SELECT a.id, min(a.cid) AS code$s
         |  FROM ed$s a JOIN em$s m ON a.id = m.id AND a.d = m.md GROUP BY 1),
         |lq$s AS MATERIALIZED (
         |  SELECT id AS qid, cid, d FROM ed$s WHERE id < $nQueries)""".stripMargin
    }
    val lutJoins = (0 until m).map { s =>
      if (s == 0) s"JOIN lq0 l0 ON l0.cid = e0.code0"
      else s"JOIN lq$s l$s ON l$s.cid = e$s.code$s AND l$s.qid = l0.qid"
    }.mkString("\n       ")
    val eJoins = (1 until m).map(s => s"JOIN e$s USING (id)").mkString(" ")
    val dSum = (0 until m).map(s => s"l$s.d").mkString(" + ")
    val adc =
      s"""adc AS (
         |  SELECT l0.qid AS query_id, e0.id AS neighbor_id,
         |         CAST($dSum AS BIGINT) AS adc_dist
         |  FROM e0 $eJoins
         |       $lutJoins
         |       JOIN gas ON gas.id = e0.id
         |       JOIN gpr ON gpr.qid = l0.qid AND gpr.cid = gas.cid
         |  WHERE e0.id <> l0.qid)""".stripMargin
    s"""WITH ${(coarsePyr +: assign +: (pyramids ++ encodes) :+ adc).mkString(",\n")}
       |SELECT query_id, neighbor_id, adc_dist,
       |       CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
       |FROM adc
       |QUALIFY rank <= $k""".stripMargin
  }

  private def centroidsDf(like: DataFrame, cents: Array[Array[Float]]): DataFrame = {
    val s = like.sparkSession
    import s.implicits._
    cents.toIndexedSeq.map(_.toIndexedSeq).zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cid", "cv")
      .select(col("cid"), col("cv").cast("array<float>").as("cv"))
  }

  /** IVF top-k: for each query vector, the k nearest corpus vectors by
    * cosine among the inverted lists of the query's `nprobe` nearest
    * centroids. `nprobe = centroids.length` degenerates to exact
    * brute force (every list probed) — the equivalence the spec
    * asserts.
    *
    * Plan shape at scale: corpus → ONE map-only scan (codegen
    * assignment, no inflation) → equi-join against the BROADCAST
    * (query × probe) list → per-query top-k window over ~|corpus| ·
    * nprobe / K candidate rows. No shuffle touches the full corpus
    * except the final window's hash partition on query_id, which
    * carries only candidates.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], k: Int, nprobe: Int): DataFrame = {
    val centDf = centroidsDf(corpus, centroids)
    // raw (unrounded) cosine for probe ordering — identical IEEE ops
    // on both engines, see the oracle mirror
    val probed = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", sqrt(dot(col("__qv"), col("__qv"))))
      .crossJoin(broadcast(centDf))
      .withColumn("__c", cosine(col("__qv"), col("cv")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("__c"), asc("cid"))))
      .filter(col("__rn") <= nprobe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("cid"))
    val assigned = graft.util.Parallelism.ensure(corpus)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        graft.expr.VectorExprs.nearest_centroid(col(vecCol), centroids).as("cid"))
      .withColumn("__cn", sqrt(dot(col("__cv"), col("__cv"))))
    assigned.join(broadcast(probed), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** SemDeDup-style semantic near-dup candidate pairs (Abbas et al.
    * 2023): assign every vector to its nearest centroid (max cosine,
    * ties → smallest centroid id — the [[ivfTopK]] assignment), then
    * compare ONLY within a cluster. Output `(id_a, id_b, cosine)`
    * with id_a < id_b and cosine ≥ `minCosine` (6-dp rounded for
    * cross-engine hash equality).
    *
    * The clustering is what makes semantic dedup tractable: pair
    * count drops from n² to Σ|cluster|², and with k sized so clusters
    * hold ~thousands of vectors (SemDeDup used 50k clusters for
    * 1.3 B embeddings) each cluster's self-join is an ordinary
    * equi-join partition — no driver involvement past the k·dim
    * centroid metadata. Recall trade: a near-dup pair split across
    * two clusters is missed; that is the SemDeDup contract (dup pairs
    * have near-identical embeddings, so they co-assign except exactly
    * at a cluster boundary). Compose with
    * [[graft.ops.Clusters.resolveDuplicates]] for the keep-list.
    *
    * Plan shape: ONE map-only codegen assignment scan, one
    * self-equi-join on cid (AQE handles modest cluster skew; a
    * degenerate corpus that collapses into one cluster needs more
    * centroids, the same remedy as an LSH bucket cap).
    */
  def semanticNearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]], minCosine: Double): DataFrame = {
    val assigned = graft.util.Parallelism.ensure(corpus)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        graft.expr.VectorExprs.nearest_centroid(col(vecCol), centroids).as("cid"))
      .withColumn("__n", sqrt(dot(col("__v"), col("__v"))))
    val a = assigned.select(col("cid"), col("__id").as("id_a"),
      col("__v").as("__va"), col("__n").as("__na"))
    val b = assigned.select(col("cid"), col("__id").as("id_b"),
      col("__v").as("__vb"), col("__n").as("__nb"))
    a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", round(
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup-style cluster representative (Abbas et al. 2023 keep the
    * cluster member with the LOWEST similarity to its centroid — the
    * most atypical survivor). Here the "farthest from centroid" rule
    * runs in EXACT integer arithmetic so both engines agree bitwise:
    * each component is floored to integer micro-units, the centroid is
    * carried UNDIVIDED as (sum, count), and the distance is the L1 form
    * `Σ_d |n·v_d − S_d|` — n·v−S is n times the signed deviation from
    * the mean, so the argmax matches the L1-distance-to-centroid argmax
    * without ever dividing. Ties break to the smaller id.
    *
    * Plan shape: ONE posexplode scan → window-sum over (cluster, pos)
    * (small partitions, unbounded frame, no sort) → per-(cluster, id)
    * hash agg → per-cluster struct-max. No join back to the corpus, no
    * pair blow-up, nothing driver-sided; every stage is keyed by the
    * cluster, so a 1000-executor run shuffles each embedding component
    * exactly twice. Overflow headroom: |n·v| ≤ n·2²⁰ micro-units, so
    * clusters up to ~2⁴² members stay inside BIGINT.
    */
  def clusterKeeper(
      df: DataFrame, idCol: String, clusterCol: String, vec: Column,
      scale: Double = 1e6): DataFrame = {
    val w = Window.partitionBy("__cl", "pos")
    df.select(col(idCol).as("__id"), col(clusterCol).as("__cl"),
        posexplode(vec).as(Seq("pos", "__x")))
      .withColumn("__m", floor(col("__x").cast("double") * scale).cast("long"))
      .withColumn("__s", sum("__m").over(w))
      .withColumn("__n", count(lit(1)).over(w))
      .groupBy("__cl", "__id")
      .agg(sum(abs(col("__n") * col("__m") - col("__s"))).as("__dist"),
        first("__n").as("__nm"))
      .groupBy(col("__cl").as("cluster_id"))
      .agg(
        max(struct(col("__dist"), (-col("__id")).as("__neg"))).as("__best"),
        first("__nm").as("n_members"))
      .select(col("cluster_id"), col("n_members"),
        (-col("__best.__neg")).as("keep_id"),
        col("__best.__dist").as("dist_unat"))
  }

  /** Scalar int8 quantization of an embedding column — the standard
    * 4× storage/bandwidth cut before ANN serving (FAISS SQ8 shape):
    * per-dimension global [min, max] over the corpus, then
    * `code_d = min(255, ⌊(x_d − min_d)·255/(max_d − min_d)⌋)`
    * (0 when the dimension is constant). All arithmetic is
    * IEEE-deterministic — three double ops per component from
    * identical stats — so codes match bit-for-bit across engines.
    *
    * Plan shape: the stats pass is one posexplode → `dim`-row hash agg
    * (map-side partial, a `dim`-row shuffle); the stats then ride to
    * every executor as LITERAL arrays, so the encode pass is MAP-ONLY
    * — `transform` over the vector with `element_at` into the
    * literals, fused into the scan, no join and no second shuffle. The
    * `dim`-sized collect is driver-sized by construction (the IVF
    * centroid precedent). Codes return both as `array<int>` and as the
    * joined string the oracle hashes.
    */
  def quantizeInt8(
      df: DataFrame, idCol: String, vec: Column, dim: Int): DataFrame = {
    val stats = df.select(posexplode(vec).as(Seq("pos", "__x")))
      .groupBy("pos")
      .agg(min(col("__x").cast("double")).as("lo"),
        max(col("__x").cast("double")).as("hi"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(stats.length == dim, s"expected $dim dims, saw ${stats.length}")
    val los = lit(stats.map(_._2))
    val his = lit(stats.map(_._3))
    val codes = transform(vec, (x, i) => {
      val lo = element_at(los, i + 1)
      val hi = element_at(his, i + 1)
      when(hi === lo, lit(0)).otherwise(
        least(lit(255), floor((x.cast("double") - lo) * 255.0 / (hi - lo)))
      ).cast("int")
    })
    df.select(col(idCol), codes.as("codes"),
      concat_ws("-", codes).as("code_str"))
  }

  /** Top-k search in the INT8-QUANTIZED space — the memory-bound
    * production shape ([[quantizeInt8]]'s codes are 4× smaller than
    * float32 and the scoring loop is integer MACs): for each query id,
    * the k corpus vectors with the highest integer code dot product.
    * Queries are corpus members named by id, so both sides share the
    * one codebook by construction. Returns `(query_id, neighbor_id,
    * dot_q, rank)` — `dot_q` is an exact BIGINT (codes ≤ 255, so a
    * 64-dim dot is ≤ 4.2e6; order-independent integer sum), which
    * makes quantized search the rare ANN variant an oracle can check
    * HASH-exactly rather than by recall: rank order (dot DESC, id ASC)
    * is total and engine-independent.
    *
    * Scale shape: one quantize pass (map-only after the dim-stats
    * agg), broadcast query codes, corpus scanned once, per-query
    * top-k via a query-keyed window. Brute force over codes is the
    * correctness baseline exactly like [[bruteForceTopK]] — bucket
    * with [[lshBuckets]] or [[ivfAssign]] first at corpus scale and
    * rescore the shortlist with these integer dots.
    */
  def searchInt8(
      corpus: DataFrame, queryIds: Seq[Long], idCol: String, vecCol: String,
      dim: Int, k: Int): DataFrame = {
    require(queryIds.nonEmpty, "searchInt8 needs at least one query id")
    require(k >= 1, s"k must be >= 1, got $k")
    val codes = quantizeInt8(corpus, idCol, col(vecCol), dim)
      .select(col(idCol), col("codes"))
    val q = codes.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col("codes").as("__qc"))
    val c = graft.util.Parallelism.ensure(codes)
      .select(col(idCol).as("neighbor_id"), col("codes").as("__cc"))
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dot_q",
        aggregate(zip_with(col("__qc"), col("__cc"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("dot_q"), asc("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "dot_q", "rank")
  }

  /** RECIPROCAL RANK FUSION (Cormack/Clarke/Büttcher SIGIR'09) — the
    * standard way to ensemble retrievers with incommensurable scores
    * (dense ANN + BM25, or float cosine + int8 codes): each source
    * contributes `1/(k0 + rank)` per candidate and the fused order is
    * by the summed contribution. Input: `(query_id, neighbor_id,
    * rank, source)` rows from any number of rankers; output the fused
    * top-`k` per query as `(query_id, neighbor_id, rrf_micro,
    * n_sources, rank)`.
    *
    * Scored in exact integer micro-units — `Σ 10⁶ div (k0 + rank)` —
    * so the fusion is order-independent BIGINT arithmetic and the
    * (score DESC, neighbor ASC) output order is total and
    * engine-exact (float RRF sums are association-ordered). The
    * integer truncation changes scores by < 1 micro-unit per source —
    * rank-semantics, not calibrated probabilities, is RRF's contract.
    *
    * Shape: one union of ranker outputs (each already per-query
    * bounded), one (query, neighbor) hash agg, one query-keyed
    * window. Nothing scans the corpus — fusion touches only the
    * shortlists.
    */
  def rrfFuse(rankings: DataFrame, k: Int, k0: Int = 60): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k0 >= 0, s"k0 must be >= 0, got $k0")
    val scored = rankings.select(col("query_id"), col("neighbor_id"),
      expr(s"1000000L div (${k0}L + rank)").as("__c"))
    scored.groupBy("query_id", "neighbor_id")
      .agg(sum("__c").as("rrf_micro"), count(lit(1)).as("n_sources"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(desc("rrf_micro"), asc("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** DuckDB mirror of [[quantizeInt8]] — the oracle RECOMPUTES the
    * per-dim stats in SQL (no driver handoff to trust), then applies
    * the identical clamp/floor formula.
    */
  def quantizeInt8Sql(table: String, idExpr: String, vecExpr: String,
      dim: Int): String =
    s"""WITH st AS (
       |  SELECT gs.i AS pos,
       |    min(CAST($vecExpr[gs.i] AS DOUBLE)) AS lo,
       |    max(CAST($vecExpr[gs.i] AS DOUBLE)) AS hi
       |  FROM $table, generate_series(1, $dim) gs(i) GROUP BY gs.i),
       |sl AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his FROM st),
       |enc AS (
       |  SELECT $idExpr AS vec_id,
       |    list_transform(generate_series(1, $dim), i ->
       |      CAST(CASE WHEN sl.his[i] = sl.los[i] THEN 0
       |        ELSE least(255, floor((CAST($vecExpr[i] AS DOUBLE) - sl.los[i]) * 255.0
       |          / (sl.his[i] - sl.los[i])))
       |        END AS INTEGER)) AS codes
       |  FROM $table, sl)
       |SELECT vec_id, array_to_string(codes, '-') AS code_str FROM enc""".stripMargin

  /** DuckDB mirror of [[clusterKeeper]] over a CTE `base(id, cl, v)`
    * (v a float list): identical window sums; the struct-max argmax
    * mirrors as a `QUALIFY row_number()` with the same
    * (dist DESC, id ASC) order — both pick the unique farthest
    * member, smaller id on ties.
    */
  def clusterKeeperSql(dim: Int, scale: String = "1000000"): String =
    s"""comp AS (
       |  SELECT id, cl, gs.i AS pos,
       |    CAST(floor(CAST(v[gs.i] AS DOUBLE) * $scale) AS BIGINT) AS m
       |  FROM base, generate_series(1, $dim) gs(i)),
       |winsum AS (
       |  SELECT id, cl, m,
       |    sum(m) OVER (PARTITION BY cl, pos) AS s,
       |    count(*) OVER (PARTITION BY cl, pos) AS n
       |  FROM comp),
       |perdoc AS (
       |  SELECT cl, id, CAST(sum(abs(n * m - s)) AS BIGINT) AS dist,
       |    CAST(min(n) AS BIGINT) AS nm
       |  FROM winsum GROUP BY cl, id)
       |SELECT cl AS cluster_id, nm AS n_members, id AS keep_id,
       |  dist AS dist_unat
       |FROM perdoc
       |QUALIFY row_number() OVER (PARTITION BY cl ORDER BY dist DESC, id ASC) = 1""".stripMargin

  // ---- binary (sign) quantization + Hamming-space search ------------

  /** One 32-bit word of the BINARY (sign) signature: bit `i` of word
    * `w` is set iff component `32·w + i` of the vector is `> 0` —
    * 1-bit scalar quantization, the 32×-smaller cousin of
    * [[quantizeInt8]] (binary codes are the memory floor of
    * large-scale ANN serving; cosine proximity survives as Hamming
    * proximity because sign agreement per random-ish dimension tracks
    * the angle — the Goemans–Williamson / SimHash identity applied to
    * the identity projection).
    *
    * Words are 32-bit on purpose: bit 63 of a full 64-bit pack is the
    * BIGINT sign bit, and `1 << 63` overflows loudly in DuckDB (and
    * HUGEINT-promotes the literal), so signatures are arrays of
    * half-words in BOTH engines — bit-identical and xor-safe. Bits
    * past `dim` in the last word stay 0 on both sides.
    *
    * Bits are combined with bitwise OR over disjoint one-bit terms —
    * exact, order-free, codegen-friendly `when` chain fused into the
    * scan (map-only; the signature build never shuffles).
    */
  def signWord(vec: Column, word: Int, dim: Int): Column = {
    require(word >= 0 && word * 32 < dim, s"word $word out of range for dim $dim")
    val hi = math.min(dim, (word + 1) * 32)
    (word * 32 until hi).map { i =>
      when(element_at(vec, i + 1).cast("double") > 0d,
        lit(1L << (i - word * 32))).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** DuckDB mirror of [[signWord]] — identical `> 0` test, identical
    * shift layout, BIGINT half-words. */
  def signWordSql(vecExpr: String, word: Int, dim: Int): String = {
    val hi = math.min(dim, (word + 1) * 32)
    (word * 32 until hi).map { i =>
      s"(CASE WHEN CAST($vecExpr[${i + 1}] AS DOUBLE) > 0 THEN (1::BIGINT << ${i - word * 32}) ELSE 0::BIGINT END)"
    }.mkString("(", " | ", ")")
  }

  private def signWords(dim: Int): Int = (dim + 31) / 32

  /** `(id, sig0 … sig{w-1})` sign signatures for the corpus. */
  def signSignatures(df: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be positive, got $dim")
    val sigs = (0 until signWords(dim)).map(w => signWord(col(vecCol), w, dim).as(s"sig$w"))
    df.select(col(idCol) +: sigs: _*)
  }

  private def hammingExpr(words: Int, a: String, b: String): Column =
    (0 until words).map(w =>
      call_function("bit_count", col(s"$a$w").bitwiseXOR(col(s"$b$w"))).cast("long")
    ).reduce(_ + _)

  /** Top-k search in HAMMING space over [[signSignatures]] — the
    * 1-bit analogue of [[searchInt8]]: for each query id the k corpus
    * vectors with the LOWEST Hamming distance between sign
    * signatures (ties → smaller neighbor id; total, engine-exact
    * order — distances are small exact integers). A 64-dim float
    * vector becomes 8 bytes, so a 1000-executor corpus scan is
    * bandwidth-trivial and the distance is two xor+popcount
    * instructions — the standard first-pass filter in front of an
    * exact rescoring of the shortlist.
    *
    * Shape: one map-only signature pass, broadcast query signatures,
    * per-query top-k window — identical plan to [[searchInt8]].
    */
  def searchHamming(
      corpus: DataFrame, queryIds: Seq[Long], idCol: String, vecCol: String,
      dim: Int, k: Int): DataFrame = {
    require(queryIds.nonEmpty, "searchHamming needs at least one query id")
    require(k >= 1, s"k must be >= 1, got $k")
    val words = signWords(dim)
    val sigs = signSignatures(corpus, idCol, vecCol, dim)
    val q = sigs.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id") +:
        (0 until words).map(w => col(s"sig$w").as(s"__q$w")): _*)
    val c = graft.util.Parallelism.ensure(sigs)
      .select(col(idCol).as("neighbor_id") +:
        (0 until words).map(w => col(s"sig$w").as(s"__c$w")): _*)
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming", hammingExpr(words, "__q", "__c"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("hamming"), asc("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "hamming", "rank")
  }

  /** Near-duplicate pairs in Hamming space via MULTI-INDEX HASHING
    * (Norouzi, Punjani & Fleet, CVPR'12): the signature splits into
    * `nBands` disjoint `bandBits`-bit substrings; two codes within
    * Hamming radius `nBands − 1` MUST agree on at least one band
    * (pigeonhole), so an equi-join on `(band, substring)` is a
    * full-recall candidate generator for that radius. For
    * `maxDist ≥ nBands` the band join is a candidate generator in the
    * [[Dedup.minhashLshCandidates]] sense — recall below 100% is the
    * trade, and the ORACLE MIRRORS THE BANDING so the reported set is
    * still exactly specified. Candidates are rescored with the exact
    * popcount distance and filtered to `hamming ≤ maxDist`.
    *
    * Shape: map-only signature + band explode (`nBands` rows per
    * doc), keyed self-equi-join on the band value, distinct, exact
    * rescore — never all-pairs. Scale note: selectivity is
    * `2^bandBits` buckets per band; at corpus scale use ≥ 16-bit
    * bands over ≥ 128-bit codes (8-bit bands on a 10⁹-doc corpus
    * put ~4M docs in a bucket — quadratic; the bucket-cap remedy of
    * the LSH path applies here unchanged).
    *
    * `bandBits` must divide 32 so bands never straddle signature
    * words.
    */
  def hammingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      maxDist: Int, bandBits: Int = 8): DataFrame = {
    require(dim % bandBits == 0, s"bandBits $bandBits must divide dim $dim")
    hammingNearDupPairsSig(
      signSignatures(df, idCol, vecCol, dim), idCol, signWords(dim),
      dim, maxDist, bandBits)
  }

  /** [[hammingNearDupPairs]] over PRECOMPUTED signature half-words
    * `sig0 … sig{words-1}` — the entry point for codes that are not
    * sign bits of a float vector (e.g. [[Multimodal.imageDhash]]'s
    * perceptual hashes: near-duplicate IMAGE detection is this exact
    * join over `(d0, d1)`). `nBits` ≤ 32·words bounds the banded
    * region (trailing pad bits are constant and carry no signal).
    */
  def hammingNearDupPairsSig(
      sigDf: DataFrame, idCol: String, words: Int, nBits: Int,
      maxDist: Int, bandBits: Int = 8, bandRadius: Int = 0): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(bandBits >= 1 && 32 % bandBits == 0,
      s"bandBits must divide 32, got $bandBits")
    require(nBits % bandBits == 0 && nBits <= 32 * words,
      s"nBits $nBits must be a bandBits multiple within $words words")
    require(bandRadius >= 0 && bandRadius <= 1,
      s"bandRadius must be 0 or 1, got $bandRadius")
    val perWord = 32 / bandBits
    val sigs = sigDf.localCheckpoint(true)
    val mask = (1L << bandBits) - 1
    def bandKey(b: Int): Column = {
      val w = b / perWord
      val off = (b % perWord) * bandBits
      shiftright(col(s"sig$w"), off).bitwiseAND(lit(mask))
    }
    val nb = nBits / bandBits
    val bandCols = (0 until nb).map(b => struct(lit(b).as("band"), bandKey(b).as("bits")))
    val bands = sigs.select(col(idCol).as("__id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("__id"), col("bs.band").as("band"), col("bs.bits").as("bits"))
    // MIH probe expansion (Norouzi et al.): with nb bands and per-band
    // probe radius q, a pair within nb·(q+1)−1 total flips must have
    // SOME band within q flips (pigeonhole) — so radius-1 probing of
    // 16-bit bands covers the same maxDist as equality over twice as
    // many 8-bit bands, while bucket occupancy drops 256×. Only the
    // probe side expands (key + its bandBits single-bit flips); the
    // build side stays the exact keys.
    val probes =
      if (bandRadius == 0) bands
      else {
        val probeCols = (0 until nb).flatMap { b =>
          val key = bandKey(b)
          (key +: (0 until bandBits).map(j => key.bitwiseXOR(lit(1L << j))))
            .map(v => struct(lit(b).as("band"), v.as("bits")))
        }
        sigs.select(col(idCol).as("__id"), explode(array(probeCols: _*)).as("bs"))
          .select(col("__id"), col("bs.band").as("band"), col("bs.bits").as("bits"))
      }
    val cand = bands.as("a").join(probes.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .distinct()
    val sa = sigs.select(col(idCol).as("id_a") +:
      (0 until words).map(w => col(s"sig$w").as(s"__a$w")): _*)
    val sb = sigs.select(col(idCol).as("id_b") +:
      (0 until words).map(w => col(s"sig$w").as(s"__b$w")): _*)
    cand.join(sa, "id_a").join(sb, "id_b")
      .withColumn("hamming", hammingExpr(words, "__a", "__b"))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** RETRIEVAL EVALUATION of one ranker against a ground-truth
    * ranking — per-query Recall@k, MRR and NDCG in exact integer
    * micro-units so the row is hash-checkable: positional gains
    * `⌊10⁶ / log₂(pos+1)⌋` are Scala-computed constants injected
    * into BOTH engines as literals (one source of truth — no cross-
    * libm log), relevance is binary membership in the truth top-k,
    * and `ndcg_ppm = (10⁶·dcg) div idcg` is one BIGINT division.
    * Inputs are `(query_id, neighbor_id, rank)` shortlists (both
    * per-query bounded), so the whole evaluation is two keyed joins
    * and one per-query agg — it never touches the corpus.
    */
  def retrievalEval(system: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val gains = ndcgGains(k)
    val gainArr = typedLit(gains)
    val tr = truth.select(col("query_id"), col("neighbor_id"), lit(true).as("__rel"))
    val idcg = truth.groupBy("query_id")
      .agg(count(lit(1)).as("__nt"))
      .select(col("query_id"),
        aggregate(slice(gainArr, lit(1), least(col("__nt"), lit(k)).cast("int")),
          lit(0L), (acc, x) => acc + x).as("__idcg"))
    system.filter(col("rank") <= k)
      .join(tr, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(when(col("__rel"), lit(1L)).otherwise(lit(0L))).as("n_hits"),
        sum(when(col("__rel"), element_at(gainArr, col("rank").cast("int")))
          .otherwise(lit(0L))).as("__dcg"),
        min(when(col("__rel"), col("rank"))).as("__first"))
      .join(idcg, Seq("query_id"))
      .select(col("query_id"), col("n_hits"),
        coalesce(expr("1000000L div __first"), lit(0L)).as("mrr_micro"),
        expr("(1000000L * __dcg) div __idcg").as("ndcg_ppm"))
  }

  /** The shared gain table: `gain(pos) = ⌊10⁶ / log₂(pos+1)⌋`. */
  def ndcgGains(k: Int): Seq[Long] =
    (1 to k).map(p => math.floor(1e6 / (math.log(p + 1.0) / math.log(2.0))).toLong)

  /** [[ndcgGains]] as a DuckDB list literal — the SAME Scala-computed
    * constants the Spark side uses. */
  def ndcgGainsSql(k: Int): String = ndcgGains(k).mkString("[", ", ", "]")

  /** Embedding-space decontamination — the SEMANTIC member of the
    * decontamination family ([[graft.ops.Decontaminate]] catches
    * verbatim/shingle overlap; this catches paraphrased benchmark
    * leakage, the contamination n-grams miss). For every benchmark
    * vector, count corpus vectors whose cosine clears
    * `minCosPpm/1e6`, entirely in EXACT integers: components floor to
    * micro-units, and the keep test is sqrt-free —
    * {{{ dot > 0  ∧  ⌊dot²·10⁶ / (‖a‖²·‖b‖²)⌋ ≥ ⌊t_ppm²/10⁶⌋ }}}
    * i.e. the floor-ppm of cos² clears the squared threshold, every
    * operand in decimal(38,0) (micro dots stay ≤ ~10¹³ even for
    * unnormalized inputs, so dot²·10⁶ ≤ ~10³² — inside the envelope
    * with 6 digits to spare). Both engines floor the same integers,
    * so the hit set and the reported `max_cos2_ppm` are hash-exact.
    *
    * Plan shape: the bench side is benchmark-sized (thousands) —
    * BROADCAST it; the corpus side is ONE map-only scan with the
    * quantization fused in, then a bench-keyed hash agg. The corpus
    * never shuffles; this is the [[graft.ops.Decontaminate]] broadcast
    * discipline in embedding space.
    */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, minCosPpm: Long): DataFrame = {
    require(minCosPpm > 0 && minCosPpm <= 1000000L,
      s"minCosPpm must be in (0, 1e6], got $minCosPpm")
    val dec = "decimal(38,0)"
    def q(df: DataFrame, id: String, v: String, n: String) = df.select(
      col(idCol).cast("long").as(id),
      expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as(v))
      .withColumn(n, aggregate(col(v), lit(0L), (a, x) => a + x * x))
    val c = q(graft.util.Parallelism.ensure(corpus), "corpus_id", "__vc", "__nc")
    val b = q(bench, "bench_id", "__vb", "__nb")
    val dot = aggregate(zip_with(col("__vc"), col("__vb"),
      (x, y) => x * y), lit(0L), (a, x) => a + x)
    val thr2Ppm = minCosPpm * minCosPpm / 1000000L
    c.join(broadcast(b))
      .filter(col("corpus_id") =!= col("bench_id"))
      .withColumn("__d", dot)
      .filter(col("__d") > 0)
      .withColumn("__c2", {
        val n = col("__d").cast(dec) * col("__d").cast(dec) * 1000000L
        val den = col("__nc").cast(dec) * col("__nb").cast(dec)
        ((n - n % den) / den).cast("long")
      })
      .filter(col("__c2") >= thr2Ppm)
      .groupBy("bench_id")
      .agg(count(lit(1)).as("n_contaminated"),
        max("__c2").as("max_cos2_ppm"),
        min("corpus_id").as("first_corpus_id"))
  }
}
