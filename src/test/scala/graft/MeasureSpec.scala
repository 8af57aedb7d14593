package graft

import org.apache.spark.sql.functions._

/** [[Measure]]'s shared pieces: the replica recipe on the sf0.001
  * fixture, the query runner's error record and the single-task rule.
  */
class MeasureSpec extends SparkSpec {

  private val Base = "/root/testdata/sf0.001"

  private def read(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet")

  private def withTempDir(body: String => Unit): Unit =
    body(tempDir("graft_measure_spec").toString)

  test("replica recipe: xR rows, disjoint ids, salted tokens, verbatim dimensions") { withTempDir { out =>
    val r = 3
    val tables = Seq("part", "nation", "region", "customer", "documents",
      "events", "orders", "lineitem", "supplier")
    Measure.replicate(spark, Base, out, r, tables)

    Seq("part", "nation", "region").foreach { t =>
      val (b, o) = (read(Base, t), read(out, t))
      assert(o.count() == b.count() && o.exceptAll(b).isEmpty && b.exceptAll(o).isEmpty, t)
    }
    Seq("customer", "documents", "events", "orders", "lineitem", "supplier").foreach { t =>
      assert(read(out, t).count() == r * read(Base, t).count(), t)
    }
    // every offset key: R times the base's distinct values, so no two
    // replicas share one
    Seq("customer" -> "c_custkey", "documents" -> "doc_id", "events" -> "event_id",
      "events" -> "user_id", "orders" -> "o_orderkey", "orders" -> "o_custkey",
      "lineitem" -> "l_orderkey", "lineitem" -> "l_suppkey", "supplier" -> "s_suppkey")
      .foreach { case (t, c) =>
        val distinct = (dir: String) => read(dir, t).select(c).distinct().count()
        assert(distinct(out) == r * distinct(Base), s"$t.$c")
      }

    val baseText = read(Base, "documents").select("doc_id", "text").collect()
      .map(row => row.getLong(0) -> row.getString(1)).toMap
    assert(baseText.keys.max < 5000L)
    val docs = read(out, "documents").select("doc_id", "text").collect()
    assert(docs.length == r * baseText.size)
    docs.foreach { row =>
      val (id, text) = (row.getLong(0), row.getString(1))
      val (rep, b) = ((id / 5000L).toInt, id % 5000L)
      val want =
        if (rep == 0) baseText(b)
        else baseText(b).split(" ", -1).map(w => s"${w}_$rep").mkString(" ")
      assert(text == want, s"doc $id")
    }
  }}

  test("replica recipe: embedding r is the base shifted by r mod 64, negated on odd wraps") { withTempDir { out =>
    val r = 66
    Measure.replicate(spark, Base, out, r, Seq("embeddings"))
    assert(new java.io.File(out).list().toSet == Set("embeddings.parquet", "_DONE_v9_embeddings"))

    val base = read(Base, "embeddings").select("vec_id", "embedding").collect()
      .map(row => row.getLong(0) -> row.getSeq[Float](1).toIndexedSeq).toMap
    val n = base.size.toLong
    assert(base.keys.min >= 0 && base.keys.max < n)
    assert(base.values.forall(_.size == 64))
    val rows = read(out, "embeddings").select("vec_id", "embedding").collect()
    assert(rows.length == r * n)
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    rows.foreach { row =>
      val id = row.getLong(0)
      val (rep, b) = ((id / n).toInt, id % n)
      val sign = if ((rep / 64) % 2 == 1) -1.0f else 1.0f
      val want = (0 until 64).map(i => base(b)((i + rep) % 64) * sign)
      assert(row.getSeq[Float](1) == want, s"vec $id (replica $rep)")
    }
  }}

  test("runner: a query that throws comes back as an error record, rows = -1") {
    val run = new Measure.Runner(spark)
    try {
      val ok = run("q_block_equi", Base)
      assert(ok.rows > 0 && ok.err.isEmpty && ok.jobs > 0 && ok.stages.nonEmpty)
      assert(ok.violations.isEmpty)
      val bad = run("q_block_equi", "/nonexistent/graft_measure_spec")
      assert(bad.rows == -1L)
      assert(bad.err.nonEmpty)
      assert(bad.violations == Seq(s"q_block_equi failed: ${bad.err}"))
    } finally spark.sparkContext.removeSparkListener(run.log)
  }

  test("violation rule: a 1-task stage that ran >= 10 s, and only that") {
    val run = new Measure.Runner(spark)
    spark.sparkContext.removeSparkListener(run.log)
    def stage(id: Int, tasks: Int, runMs: Long) =
      run.log.Stage(id, tasks, wallMs = runMs + 5000, runMs = runMs, 0L, 0L, 0L, 0L, 0L)
    val r = run.Run("q_x", 20.0, 1L, 3, Seq(
      stage(1, 1, 10000L), // violates
      stage(2, 1, 9999L), // short single task: fine
      stage(3, 4, 60000L), // long but parallel: fine
      stage(4, 1, 25000L))) // violates
    assert(r.violations == Seq("q_x stage 1 single-task 10s", "q_x stage 4 single-task 25s"))
  }
}
