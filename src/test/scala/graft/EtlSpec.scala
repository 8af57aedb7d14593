package graft

import org.apache.spark.sql.functions._

import graft.etl.Etl

/** Bucketed-table layout specs: the co-located join must plan WITHOUT
  * a shuffle on either side — that is the entire point of bucketing.
  */
class EtlSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed join: no exchange on either side, result correct") {
    val tmp = tempDir("graft_bkt_spec").toString
    val left = (1L to 100L).map(i => (i, s"name_$i")).toDF("id", "name")
    val right = (1L to 300L).map(i => (i % 100 + 1, i)).toDF("id", "order_id")
    Etl.writeBucketed(left, "spec_bkt_left", s"$tmp/left", "id", 4, Some("id"))
    Etl.writeBucketed(right, "spec_bkt_right", s"$tmp/right", "id", 4, Some("id"))
    // Disable broadcast: tiny test tables would broadcast-join (which
    // rightly ignores bucketing); the co-location claim is about the
    // SHUFFLED join path that large-scale sides take.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Etl.readBucketed(spark, "spec_bkt_left")
        .join(Etl.readBucketed(spark, "spec_bkt_right"), Seq("id"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 300)
      // bucket pruning sanity: reading back preserves values
      assert(joined.filter(col("id") === 7L).count() == 3)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dynamic partition overwrite replaces only the partitions present in the frame") {
    val tmp = tempDir("graft_dpo_spec").toString
    val base = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"), (5L, "c"))
      .toDF("id", "part")
    Etl.writePartitioned(base, tmp, Seq("part"))
    // Overwrite partition 'a' with a single row; 'b' and 'c' must survive.
    Etl.overwritePartitions(Seq((99L, "a")).toDF("id", "part"), tmp, Seq("part"))
    val got = Etl.readPartitioned(spark, tmp)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("part"))).toSet
    assert(got == Set((99L, "a"), (3L, "b"), (4L, "b"), (5L, "c")))
  }

  test("range-sorted write: per-file key ranges are disjoint (data-skipping layout)") {
    val tmp = tempDir("graft_rng_spec").toString
    val df = (1L to 1000L).map(i => (i * 37 % 1000, i)).toDF("k", "v")
    Etl.writeRangeSorted(df, tmp, "k", nFiles = 4)
    // min/max of k per physical file must not overlap across files —
    // that disjointness is what makes parquet footer stats prune.
    val perFile = spark.read.parquet(tmp)
      .select(input_file_name().as("f"), col("k"))
      .groupBy("f").agg(min("k").as("lo"), max("k").as("hi"))
      .collect().map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    assert(perFile.length > 1)
    perFile.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlapping file ranges: $perFile")
      case _ =>
    }
    // and the filter reaches the scan as a pushed filter
    val scan = spark.read.parquet(tmp).filter(col("k").between(100, 200))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("GreaterThanOrEqual(k,100)"),
      s"filter not pushed:\n$plan")
    assert(scan.count() == df.filter(col("k").between(100, 200)).count())
  }

  test("z-ordered write: files cover small 2-d boxes; roundtrip exact") {
    val tmp = tempDir("graft_z_spec").toString
    // 64x64 grid, shuffled ordering — x and y are independent, so a
    // plain x-sort gives full-range y boxes.
    val df = (0 until 4096).map { i =>
      val (x, y) = ((i * 2654435761L % 4096 % 64).toLong, (i * 2654435761L % 4096 / 64).toLong)
      (x, y, i.toLong)
    }.toDF("x", "y", "id")
    Etl.writeZOrdered(df, tmp, Seq("x", "y"), nFiles = 16)
    // roundtrip: exact same rows
    assert(spark.read.parquet(tmp).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      == df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // per-file (x,y) bounding boxes: mean area must be far below the
    // full domain — 16 z-ordered files on a 64x64 grid approximate a
    // 4x4 tiling (~1/16 of the area each); an x-sorted layout scores
    // ~1/16 on x but 1.0 on y (~6.25% area floor is impossible there).
    val boxes = spark.read.parquet(tmp)
      .select(input_file_name().as("f"), col("x"), col("y"))
      .groupBy("f").agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"))
      .collect().map(r => ((r.getLong(2) - r.getLong(1) + 1) *
        (r.getLong(4) - r.getLong(3) + 1)).toDouble / (64.0 * 64.0))
    assert(boxes.length > 4)
    val meanArea = boxes.sum / boxes.length
    assert(meanArea < 0.25, s"z-order boxes too large: mean=$meanArea")
    // pruning evidence: a 2-d range read touches fewer files than exist
    val touched = spark.read.parquet(tmp)
      .filter(col("x").between(0, 15) && col("y").between(0, 15))
      .select(input_file_name()).distinct().count()
    assert(touched < boxes.length / 2,
      s"2-d predicate touched $touched of ${boxes.length} files")
  }

  test("compact: shrinks the file count, keeps every row byte-identical") {
    val tmp = tempDir("graft_cmp_spec").toString
    val df = (1L to 2000L).map(i => (i, s"row_$i")).toDF("id", "payload")
    df.repartition(37).write.parquet(s"$tmp/in")
    def nFiles(p: String) = new java.io.File(p).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles(s"$tmp/in") == 37)
    Etl.compact(spark, s"$tmp/in", s"$tmp/out", targetFiles = 3)
    assert(nFiles(s"$tmp/out") == 3)
    assert(spark.read.parquet(s"$tmp/out").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      == df.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // rebalance path: same rows, evenly sized files
    Etl.compact(spark, s"$tmp/in", s"$tmp/out2", targetFiles = 3, rebalance = true)
    assert(nFiles(s"$tmp/out2") == 3)
    assert(spark.read.parquet(s"$tmp/out2").count() == 2000L)
  }

  test("compact: hive-partitioned input preserves layout; flat compact refused") {
    val tmp = tempDir("graft_cmp_part").toString
    val df = (1L to 3000L).map(i => (i % 3, i, s"row_$i")).toDF("p", "id", "payload")
    df.repartition(20).write.partitionBy("p").parquet(s"$tmp/in")
    def partFiles(root: String, p: Long) =
      Option(new java.io.File(s"$root/p=$p").listFiles).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
    assert((0L to 2L).forall(p => partFiles(s"$tmp/in", p).size > 3))
    // without partitionCols: hard refusal, not a silent flatten
    val err = intercept[IllegalArgumentException] {
      Etl.compact(spark, s"$tmp/in", s"$tmp/flat", targetFiles = 1)
    }
    assert(err.getMessage.contains("hive-partitioned"))
    // with partitionCols: layout preserved, one file per partition
    Etl.compact(spark, s"$tmp/in", s"$tmp/out", targetFiles = 1, partitionCols = Seq("p"))
    (0L to 2L).foreach { p =>
      assert(partFiles(s"$tmp/out", p).size == 1, s"partition p=$p not compacted to 1 file")
    }
    val want = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // hive partition values read back type-inferred (int) — normalize
    val got = spark.read.parquet(s"$tmp/out")
      .select(col("p").cast("long"), col("id"), col("payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == want)
    // targetFiles > 1: per-partition file count bounded by it
    Etl.compact(spark, s"$tmp/in", s"$tmp/out4", targetFiles = 4, partitionCols = Seq("p"))
    (0L to 2L).foreach { p =>
      val n = partFiles(s"$tmp/out4", p).size
      assert(n >= 1 && n <= 4, s"partition p=$p has $n files, want 1..4")
    }
  }

  test("upsertPartitioned: replace + insert by key, untouched partition byte-identical") {
    val root = tempDir("graft_ups").toString
    val tmp = s"$root/t"
    val base = Seq(
      ("a", 1L, 10.0), ("a", 2L, 20.0),
      ("b", 3L, 30.0), ("b", 4L, 40.0),
      ("c", 5L, 50.0)
    ).toDF("p", "k", "v")
    base.write.partitionBy("p").parquet(tmp)
    def files(p: String) = Option(new java.io.File(s"$tmp/p=$p").listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def bytes(fs: Seq[java.io.File]) =
      fs.map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val cBefore = bytes(files("c"))
    // update k=2 (partition a), insert k=9 (partition b); c untouched
    val updates = Seq(("a", 2L, 99.0), ("b", 9L, 90.0)).toDF("p", "k", "v")
    Etl.upsertPartitioned(spark, tmp, updates, keyCols = Seq("k"), partitionCols = Seq("p"))
    val got = spark.read.parquet(tmp).select("p", "k", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(
      ("a", 1L, 10.0), ("a", 2L, 99.0),                 // replaced
      ("b", 3L, 30.0), ("b", 4L, 40.0), ("b", 9L, 90.0), // inserted
      ("c", 5L, 50.0)))                                  // untouched
    assert(bytes(files("c")) == cBefore, "sibling partition was rewritten")
    // flat-table variant: same semantics over an unpartitioned layout
    val flat = s"$root/flat"
    base.select("k", "v").write.parquet(flat)
    Etl.upsert(spark, flat, Seq((2L, 99.0), (9L, 90.0)).toDF("k", "v"), Seq("k"))
    val gotFlat = spark.read.parquet(flat)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(gotFlat == Set((1L, 10.0), (2L, 99.0), (3L, 30.0), (4L, 40.0),
      (5L, 50.0), (9L, 90.0)))
  }

  test("compactPartition: rewrites ONE partition in place, siblings byte-identical") {
    val root = tempDir("graft_cmp_inplace").toString
    val tmp = s"$root/t"
    val df = (1L to 3000L).map(i => (i % 3, i, s"row_$i")).toDF("p", "id", "payload")
    df.repartition(20).write.partitionBy("p").parquet(tmp)
    def partFiles(p: Long) = Option(new java.io.File(s"$tmp/p=$p").listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    def bytes(fs: Seq[java.io.File]) =
      fs.map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    val sib1Before = bytes(partFiles(1L))
    val sib2Before = bytes(partFiles(2L))
    assert(partFiles(0L).size > 3)
    Etl.compactPartition(spark, tmp, Seq("p" -> "0"), targetFiles = 1)
    assert(partFiles(0L).size == 1, "target partition not compacted")
    // siblings: same files, same bytes — never read, never rewritten
    assert(bytes(partFiles(1L)) == sib1Before)
    assert(bytes(partFiles(2L)) == sib2Before)
    // table contents unchanged (partition values read back int — normalize)
    val got = spark.read.parquet(tmp)
      .select(col("p").cast("long"), col("id"), col("payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet)
  }

  test("upsertPartitioned is idempotent under batch replay") {
    val root = tempDir("graft_replay").toString
    val path = s"$root/t"
    Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 30.0)).toDF("p", "k", "v")
      .write.partitionBy("p").parquet(path)
    val batch = Seq(("a", 2L, 99.0), ("c", 9L, 90.0)).toDF("p", "k", "v")
    Etl.upsertPartitioned(spark, path, batch, Seq("k"), Seq("p"))
    val once = spark.read.parquet(path)
      .select(col("p").cast("string"), col("k"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // replay the SAME batch (at-least-once delivery) — state unchanged
    Etl.upsertPartitioned(spark, path, batch, Seq("k"), Seq("p"))
    val twice = spark.read.parquet(path)
      .select(col("p").cast("string"), col("k"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(once == twice)
    assert(twice == Set(("a", 1L, 10.0), ("a", 2L, 99.0), ("b", 3L, 30.0), ("c", 9L, 90.0)))
  }

  test("ORC roundtrip preserves rows, schema, and unicode strings") {
    val tmp = tempDir("graft_orc_spec").toString
    val df = Seq((1L, "plain"), (2L, "tabs\tand\nnewlines"), (3L, "unicodé ☃"),
      (4L, null.asInstanceOf[String])).toDF("id", "text")
    Etl.writeOrc(df, tmp)
    val back = Etl.readOrc(spark, tmp)
    // file scans come back nullable — compare names and types
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().map(r => (r.getLong(0), r.getAs[String]("text"))).toSet ==
      df.collect().map(r => (r.getLong(0), r.getAs[String]("text"))).toSet)
  }

  test("audited write: manifest verifies; tampering fails loudly; checksum is layout-independent") {
    val tmp = tempDir("graft_aud_spec").toString + "/t"
    val df = (1L to 500L).map(i => (i, s"payload_$i", if (i % 7 == 0) null else s"v$i"))
      .toDF("id", "payload", "opt")
    Etl.writeAudited(df, tmp, Seq("id", "payload", "opt"))
    // happy path: verifying reader returns all rows
    assert(Etl.readAudited(spark, tmp).count() == 500)
    // layout independence: a differently-partitioned rewrite of the SAME
    // rows audits to the same checksum (order-independent xor)
    val s1 = Etl.auditSummary(spark.read.parquet(tmp), Seq("id", "payload", "opt")).head()
    val s2 = Etl.auditSummary(
      spark.read.parquet(tmp).repartition(13), Seq("id", "payload", "opt")).head()
    assert(s1.getLong(1) == s2.getLong(1))
    // NULL vs empty-string must digest differently (the U+0002 marker)
    val a = Etl.auditSummary(Seq((1L, null.asInstanceOf[String])).toDF("id", "v"),
      Seq("id", "v")).head().getLong(1)
    val b = Etl.auditSummary(Seq((1L, "")).toDF("id", "v"), Seq("id", "v")).head().getLong(1)
    assert(a != b)
    // tamper: drop a row and rewrite WITHOUT re-auditing → verify throws
    val tampered = spark.read.parquet(tmp).filter(col("id") =!= 42L).localCheckpoint(true)
    tampered.write.mode("overwrite").parquet(tmp)
    // restore the manifest the overwrite deleted, simulating silent data loss
    Etl.writeAudited(df, tmp + "_ref", Seq("id", "payload", "opt"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(tmp + "_ref", "_AUDIT.json"),
      java.nio.file.Paths.get(tmp, "_AUDIT.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val e = intercept[IllegalArgumentException](Etl.readAudited(spark, tmp))
    assert(e.getMessage.contains("audit mismatch"))
  }

  test("readIncremental: only-new-files semantics, commit idempotence, guards") {
    val tmp = tempDir("graft_incr_spec").toString
    (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.mode("append").parquet(tmp)
    // no ledger yet: everything is new
    val (b1, n1) = Etl.readIncremental(spark, tmp)
    assert(b1.count() == 10L && n1.nonEmpty)
    Etl.commitProcessed(spark, tmp, n1)
    // after commit: nothing new, schema preserved for downstream code
    val (empty, nEmpty) = Etl.readIncremental(spark, tmp)
    assert(empty.count() == 0L && nEmpty.isEmpty)
    assert(empty.columns.toSeq == Seq("id", "v"))
    // batch 2 appends fresh part files: exactly those come back
    (11L to 14L).map(i => (i, s"v$i")).toDF("id", "v")
      .write.mode("append").parquet(tmp)
    val (b2, n2) = Etl.readIncremental(spark, tmp)
    assert(b2.select("id").as[Long].collect().sorted.toSeq == (11L to 14L))
    assert(n2.toSet.intersect(n1.toSet).isEmpty)
    // replaying an old commit is a no-op on what's new
    Etl.commitProcessed(spark, tmp, n2)
    Etl.commitProcessed(spark, tmp, n1) // replay
    assert(Etl.readIncremental(spark, tmp)._2.isEmpty)
    // guards: partitioned layouts refused; unescapable names refused
    val part = tempDir("graft_incr_part").toString
    (1L to 4L).map(i => (i, i % 2)).toDF("id", "p")
      .write.partitionBy("p").mode("overwrite").parquet(part)
    val e1 = intercept[IllegalArgumentException](Etl.readIncremental(spark, part))
    assert(e1.getMessage.contains("flat file directory"))
    val e2 = intercept[IllegalArgumentException](
      Etl.commitProcessed(spark, tmp, Seq("a\"b.parquet")))
    assert(e2.getMessage.contains("must not contain"))
  }

  test("readIncrementalPartitioned: per-partition ledgers isolate commits") {
    val tmp = tempDir("graft_incr_shard").toString
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p")
      .write.partitionBy("p").mode("append").parquet(tmp)
    val (all1, fresh1) = Etl.readIncrementalPartitioned(spark, tmp, "p")
    assert(all1.count() == 3L && fresh1.keySet == Set("a", "b"))
    assert(all1.columns.toSet == Set("id", "p"))
    // commit ONLY partition a; b's files stay unprocessed
    Etl.commitProcessedPartitioned(spark, tmp, "p", fresh1.filter(_._1 == "a"))
    Seq((4L, "a"), (5L, "b")).toDF("id", "p")
      .write.partitionBy("p").mode("append").parquet(tmp)
    val (got2, fresh2) = Etl.readIncrementalPartitioned(spark, tmp, "p")
    val rows2 = got2.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // a: only the new file; b: old AND new (its ledger was never written)
    assert(rows2 == Set((4L, "a"), (3L, "b"), (5L, "b")), rows2.toString)
    Etl.commitProcessedPartitioned(spark, tmp, "p", fresh2)
    val (got3, fresh3) = Etl.readIncrementalPartitioned(spark, tmp, "p")
    assert(got3.count() == 0L && fresh3.isEmpty)
    assert(got3.columns.toSet == Set("id", "p")) // schema survives the empty case
    // guards: a flat directory refuses; a foreign subdirectory refuses
    val flat = tempDir("graft_incr_flat").toString
    Seq((1L, "x")).toDF("id", "v").write.mode("append").parquet(flat)
    val e1 = intercept[IllegalArgumentException](
      Etl.readIncrementalPartitioned(spark, flat, "p"))
    assert(e1.getMessage.contains("no p=value subdirectories"), e1.getMessage)
    new java.io.File(tmp, "rogue").mkdir()
    val e2 = intercept[IllegalArgumentException](
      Etl.readIncrementalPartitioned(spark, tmp, "p"))
    assert(e2.getMessage.contains("expected only p=value"), e2.getMessage)
  }

  test("readIncremental: file-count ceiling raises loudly before the driver drowns") {
    val tmp = tempDir("graft_incr_cap").toString
    // many-file fixture: 8 single-row part files via repartition(8)
    spark.range(8).repartition(8).toDF("id")
      .write.mode("append").parquet(tmp)
    val nFiles = new java.io.File(tmp).listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(nFiles >= 2) // AQE may coalesce the 8 partitions; the guard only needs >1 file
    // under the ceiling: normal operation
    val (df, fresh) = Etl.readIncremental(spark, tmp, maxFiles = nFiles)
    assert(df.count() == 8L && fresh.size == nFiles)
    // over the ceiling: loud refusal pointing at compaction/sharding,
    // raised from the LISTING (before any ledger read or scan plan)
    val e = intercept[IllegalArgumentException](
      Etl.readIncremental(spark, tmp, maxFiles = nFiles - 1))
    assert(e.getMessage.contains("maxFiles") && e.getMessage.contains("compact"))
    // the commit side enforces the same ceiling on the MERGED ledger:
    // committing a batch that would push past maxFiles refuses too
    val e2 = intercept[IllegalArgumentException](
      Etl.commitProcessed(spark, tmp, fresh, maxFiles = nFiles - 1))
    assert(e2.getMessage.contains("maxFiles"))
    // idempotent replay under an exact-fit ceiling still succeeds
    Etl.commitProcessed(spark, tmp, fresh, maxFiles = nFiles)
    Etl.commitProcessed(spark, tmp, fresh, maxFiles = nFiles)
    assert(Etl.readIncremental(spark, tmp, maxFiles = nFiles)._2.isEmpty)
  }

  test("shingle-frequency snapshot: parquet round-trip preserves the (shingle, df) table; drifted schema refuses loudly") {
    val tmp = tempDir("graft_shfreq").toString
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val sh = graft.ops.Dedup.shingleSets(docs, "doc_id", col("text"), 2)
    val freq = graft.ops.Dedup.shingleDocFrequencies(sh)
    Etl.writeShingleFrequencies(freq, s"$tmp/freq")
    val back = Etl.readShingleFrequencies(spark, s"$tmp/freq")
    val want = freq.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = back.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
    // And the round-tripped snapshot drives the prefix filter to the
    // same output as the in-memory table (the q_jaccard_standing path).
    def pairs(f: Option[org.apache.spark.sql.DataFrame]) =
      graft.ops.Dedup.ngramJaccardPairsPrefixFromShingles(sh, 0.5, f)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Some(back)) == pairs(None))

    // Drift refusals: renamed column; widened/wrong type; extra column.
    Seq((1, "count"), (2, "wide"), (3, "extra")).foreach { case (i, kind) =>
      val bad = kind match {
        case "count" => freq.withColumnRenamed("df", "count")
        case "wide"  => freq.select(col("shingle"), col("df").cast("double").as("df"))
        case _       => freq.withColumn("written_at", lit("2026-08-15"))
      }
      bad.write.mode("overwrite").parquet(s"$tmp/bad_$i")
      val e = intercept[IllegalArgumentException](
        Etl.readShingleFrequencies(spark, s"$tmp/bad_$i"))
      assert(e.getMessage.contains("writeShingleFrequencies"), s"$kind: $e")
    }
  }
}
