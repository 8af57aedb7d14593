package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

class IvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("nearest_centroid expr matches a Column-algebra argmax") {
    val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
    val centDf = cents.toIndexedSeq.map(_.toIndexedSeq).zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cid", "cv")
      .select(col("cid"), col("cv").cast("array<float>").as("cv"))
    val viaSql = emb.crossJoin(centDf)
      .withColumn("cos", Similarity.cosine(col("embedding"), col("cv")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(desc("cos"), asc("cid"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaExpr = emb.select(col("vec_id"),
        graft.expr.VectorExprs.nearest_centroid(col("embedding"), cents).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaExpr == viaSql)
  }

  test("ivfTopK with nprobe = K is exactly brute force") {
    val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
    val queries = emb.filter(col("vec_id") < 5)
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        cents, k = 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(ivf == bf && bf.size == 25)
  }

  test("ivfTopK partial probe: high top-k recall at a fraction of the scan") {
    val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
    val queries = emb.filter(col("vec_id") < 20)
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
        cents, k = 5, nprobe = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & bf).size.toDouble / bf.size
    // seed (non-k-means) centroids, half the lists probed — the bar is
    // deliberately conservative; measured ≈ the IVF literature curve
    assert(recall >= 0.5, s"recall@5 with nprobe=K/2 was $recall")
    assert(ivf.size <= bf.size)
  }

  test("kmeansCentroidsMicro matches an exact driver-side reference") {
    val k = 8
    val dim = 64
    val rounds = 2
    // Plain-Scala reference: same quantize → (dist, cid)-argmin →
    // truncating-mean rounds, computed entirely on the driver.
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000000).toLong).toArray)
      .sortBy(_._1)
    var cents = vecs.take(k).map(_._2.clone())
    var sizes = Map.empty[Int, Long]
    for (_ <- 0 until rounds) {
      val assign = vecs.map { case (_, q) =>
        val best = cents.zipWithIndex.map { case (c, cid) =>
          (c.zip(q).map { case (ci, qi) => (qi - ci) * (qi - ci) }.sum, cid)
        }.min
        (best._2, q)
      }
      sizes = assign.groupBy(_._1).map { case (cid, g) => cid -> g.length.toLong }
      cents = cents.zipWithIndex.map { case (prev, cid) =>
        assign.filter(_._1 == cid) match {
          case g if g.nonEmpty =>
            Array.tabulate(dim) { i =>
              val s = g.map(_._2(i)).sum
              val n = g.length
              (s - s % n) / n
            }
          case _ => prev
        }
      }
    }
    val want = cents.zipWithIndex.flatMap { case (arr, cid) =>
      arr.zipWithIndex.map { case (v, pos) => (cid, pos, v, sizes.getOrElse(cid, 0L)) }
    }.toSet
    val got = Similarity.kmeansCentroidsMicro(emb, "vec_id", "embedding", k, dim, rounds)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    assert(got.size == k * dim)
    // every vector lands in exactly one cluster
    assert(sizes.values.sum == vecs.length)
  }

  test("kmeansLockstepMicro: multi-spec lockstep == per-spec sequential training") {
    // The round-15 lockstep optimization must be bit-identical to
    // training each instance alone: full-vector coarse (k=8) plus two
    // half-vector subspaces (k=4), the q_ivfpq_topk shape.
    val rounds = 2
    val specs = Seq((1, 64, 8), (1, 32, 4), (33, 32, 4))
    val lock = Similarity.kmeansLockstepMicro(
      emb, "vec_id", "embedding", specs, rounds)
    specs.zipWithIndex.foreach { case ((from, subd, k), t) =>
      val sliced =
        if (from == 1 && subd == 64) "embedding"
        else s"slice(embedding, $from, $subd)"
      val seq = Similarity.kmeansCentroidsMicro(
          emb, "vec_id", sliced, k, subd, rounds)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      val (cents, sizes) = lock(t)
      val got = cents.zipWithIndex.flatMap { case (arr, cid) =>
        arr.zipWithIndex.map { case (v, pos) => (cid, pos, v, sizes.getOrElse(cid, 0L)) }
      }.toSet
      assert(got == seq, s"spec $t (from=$from, subd=$subd, k=$k) diverged")
    }
  }

  test("semanticNearDupPairs = brute-force pairs restricted to co-assigned clusters") {
    val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
    val got = Similarity.semanticNearDupPairs(emb, "vec_id", "embedding", cents, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val assign = emb.select(col("vec_id"),
        graft.expr.VectorExprs.nearest_centroid(col("embedding"), cents).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val bf = Similarity.bruteForceNearDups(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = bf.filter { case (a, b, _) => assign(a) == assign(b) }
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
    // the cluster split must not erase the near-dup signal wholesale
    assert(got.nonEmpty)
  }

  test("clusterKeeper: farthest-from-centroid argmax, min-id ties, exact dists") {
    // cluster 10: mean (2,0); L1 dists n·|v−mean| scaled — id 3 farthest.
    // cluster 20: two mirror points — tie, keep the smaller id.
    val d = Seq(
      (1L, 10L, Seq(1.0f, 0.0f)),
      (2L, 10L, Seq(2.0f, 0.0f)),
      (3L, 10L, Seq(3.0f, 0.5f)),
      (4L, 20L, Seq(0.0f, 1.0f)),
      (5L, 20L, Seq(1.0f, 0.0f))
    ).toDF("id", "cl", "v")
    val got = Similarity.clusterKeeper(d, "id", "cl", col("v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // cluster 10: S=(6e6, 0.5e6), n=3; dist(3) = |3·3e6−6e6| + |3·0.5e6−0.5e6| = 4e6
    assert(got(10L) == ((3L, 3L, 4000000L)))
    // cluster 20: both dists = |2e6·1−1e6|·2 = 2e6 — tie → id 4
    assert(got(20L) == ((2L, 4L, 2000000L)))
  }

  test("quantizeInt8: codes in [0,255], extremes hit 0/255, constant dim → 0") {
    val d = Seq(
      (1L, Seq(0.0f, 5.0f, -1.0f)),
      (2L, Seq(1.0f, 5.0f, 0.0f)),
      (3L, Seq(0.5f, 5.0f, 3.0f))
    ).toDF("id", "v")
    val got = Similarity.quantizeInt8(d, "id", col("v"), 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got(1L) == Seq(0, 0, 0)) // min of dims 1,3; constant dim 2 → 0
    assert(got(2L) == Seq(255, 0, 63)) // max dim1; (0−(−1))·255/4 = 63.75 → 63
    assert(got(3L) == Seq(127, 0, 255)) // 0.5·255/1 = 127.5 → 127
    // order preserved within every dimension
    val all = got.values.toSeq
    assert(all.flatten.forall(c => c >= 0 && c <= 255))
  }

  test("rrfFuse: hand fusion — consensus beats a single #1, exact micro scores") {
    // source A ranks: n1=1, n2=2, n3=3; source B: n2=1, n3=2, n9=3.
    // n2 (2nd+1st) must outrank n1 (1st only): 1e6/62+1e6/61 > 1e6/61.
    val rk = Seq(
      (1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3),
      (1L, 20L, 1), (1L, 30L, 2), (1L, 90L, 3)
    ).toDF("query_id", "neighbor_id", "rank")
    val got = Similarity.rrfFuse(rk, k = 4)
      .collect().map(r => r.getInt(4) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    def c(r: Int) = 1000000L / (60 + r)
    assert(got(1) == ((20L, c(2) + c(1), 2L)))
    assert(got(2) == ((30L, c(3) + c(2), 2L)))
    assert(got(3) == ((10L, c(1), 1L)))
    assert(got(4) == ((90L, c(3), 1L)))
  }

  test("searchInt8: matches an independent Scala quantize+dot computation") {
    val rnd = new scala.util.Random(31)
    val dim = 4
    val vecs = (0L until 12L).map(i => i -> Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    val df = vecs.map { case (i, v) => (i, v.toSeq) }.toDF("id", "v")
    // independent reimplementation of the documented formulas
    val lo = (0 until dim).map(d => vecs.map(_._2(d).toDouble).min)
    val hi = (0 until dim).map(d => vecs.map(_._2(d).toDouble).max)
    def code(v: Array[Float]): Array[Long] = (0 until dim).map { d =>
      if (hi(d) == lo(d)) 0L
      else math.min(255L, math.floor((v(d).toDouble - lo(d)) * 255.0 / (hi(d) - lo(d))).toLong)
    }.toArray
    val codes = vecs.map { case (i, v) => i -> code(v) }.toMap
    val queryIds = Seq(0L, 3L)
    val expected = (for {
      q <- queryIds
      (n, c) <- codes if n != q
    } yield (q, n, codes(q).zip(c).map { case (a, b) => a * b }.sum))
      .groupBy(_._1).flatMap { case (q, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
          .map { case ((_, n, d), i) => (q, n, d, i + 1) }
      }.toSet
    val got = Similarity.searchInt8(df, queryIds, "id", "v", dim, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(got == expected && got.size == 6)
  }

  test("pqTopK matches an independent driver-side PQ reference") {
    val (dim, m, ksub, rounds, k) = (64, 4, 4, 2, 3)
    val subd = dim / m
    val queryIds = Seq(0L, 1L, 2L)
    // Independent reference: quantize, train per-subspace codebooks
    // with the same truncating-mean Lloyd's loop, encode by
    // (dist, cid) argmin, rank by exact ADC sum.
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000000).toLong).toArray)
      .sortBy(_._1)
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val books = (0 until m).map { s =>
      val subs = vecs.map { case (id, v) => id -> v.slice(s * subd, (s + 1) * subd) }
      var cents = subs.take(ksub).map(_._2.clone())
      for (_ <- 0 until rounds) {
        val assign = subs.map { case (_, q) =>
          cents.zipWithIndex.map { case (c, cid) => (sq(c, q), cid) }.min._2 -> q
        }
        cents = cents.zipWithIndex.map { case (prev, cid) =>
          val g = assign.filter(_._1 == cid)
          if (g.isEmpty) prev
          else Array.tabulate(subd) { i =>
            val sm = g.map(_._2(i)).sum; val n = g.length
            (sm - sm % n) / n
          }
        }
      }
      cents
    }
    val codes = vecs.map { case (id, v) =>
      id -> (0 until m).map { s =>
        val q = v.slice(s * subd, (s + 1) * subd)
        books(s).zipWithIndex.map { case (c, cid) => (sq(c, q), cid) }.min._2
      }
    }.toMap
    val expected = queryIds.flatMap { qid =>
      val qv = vecs.find(_._1 == qid).get._2
      vecs.filter(_._1 != qid).map { case (nid, _) =>
        val d = (0 until m).map { s =>
          sq(qv.slice(s * subd, (s + 1) * subd), books(s)(codes(nid)(s)))
        }.sum
        (qid, nid, d)
      }.sortBy { case (_, nid, d) => (d, nid) }.take(k)
        .zipWithIndex.map { case ((q2, n2, d2), i) => (q2, n2, d2, (i + 1).toLong) }
    }.toSet
    val got = Similarity.pqTopK(emb, queryIds, "vec_id", "embedding",
        dim, m, ksub, rounds, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected && got.size == queryIds.size * k)
  }

  test("ivfPqTopK: nprobe = kCoarse is exactly the flat PQ scan") {
    val qids = Seq(0L, 1L, 2L)
    val full = Similarity.ivfPqTopK(emb, qids, "vec_id", "embedding",
        dim = 64, kCoarse = 4, coarseRounds = 2, nprobe = 4,
        m = 4, ksub = 4, rounds = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val flat = Similarity.pqTopK(emb, qids, "vec_id", "embedding",
        dim = 64, m = 4, ksub = 4, rounds = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(full == flat && full.size == 15)
  }

  test("ivfPqTopK: probing fewer lists never improves a rank's distance") {
    val qids = Seq(0L, 1L, 2L)
    def run(np: Int) = Similarity.ivfPqTopK(emb, qids, "vec_id", "embedding",
        dim = 64, kCoarse = 4, coarseRounds = 2, nprobe = np,
        m = 4, ksub = 4, rounds = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(2)).toMap
    val restricted = run(1)
    val full = run(4)
    assert(restricted.nonEmpty)
    restricted.foreach { case (key, d) =>
      // candidate pool shrinks monotonically → per-rank ADC distance
      // can only rise
      assert(d >= full(key))
    }
  }

  test("semanticDecontaminate matches an independent integer-cos2 reference") {
    import spark.implicits._
    val minCosPpm = 500000L
    val thr2 = minCosPpm * minCosPpm / 1000000L
    // Hand vectors (floats, including a negative-dot and a sub-threshold
    // case) + the planted near-dup of the bench vector.
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),    // bench (id % 4 == 0)
      (1L, Array(0.9f, 0.1f, 0.0f)),    // near-dup → hit
      (2L, Array(0.0f, 1.0f, 0.0f)),    // orthogonal, dot = 0
      (3L, Array(-1.0f, 0.0f, 0.0f)),   // negative dot
      (5L, Array(0.5f, 0.7f, 0.5f)))    // moderate cosine
    val df = rows.toDF("vec_id", "embedding")
    val bench = df.filter(col("vec_id") % 4 === 0)
    val corpus = df.filter(col("vec_id") % 4 =!= 0)
    // Independent reference on the same quantization.
    def q(v: Array[Float]) = v.map(x => math.floor(x.toDouble * 1e6).toLong)
    val qb = q(rows.head._2)
    val nb = qb.map(x => x * x).sum
    val expected = rows.tail.flatMap { case (id, v) =>
      val qc = q(v); val nc = qc.map(x => x * x).sum
      val d = qc.zip(qb).map { case (x, y) => x * y }.sum
      if (d <= 0) None
      else {
        val c2 = (BigInt(d) * d * 1000000L / (BigInt(nc) * nb)).toLong
        if (c2 >= thr2) Some(id -> c2) else None
      }
    }
    val hits = expected.map(_._2)
    val got = Similarity.semanticDecontaminate(
      corpus, bench, "vec_id", "embedding", minCosPpm).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 0L)
    assert(r.getLong(1) == expected.length.toLong)
    assert(r.getLong(2) == hits.max)
    assert(r.getLong(3) == expected.map(_._1).min)
    // non-hits really are excluded: orthogonal + negative dot never pass
    assert(!expected.exists(e => e._1 == 2L || e._1 == 3L))
  }
}
