package graft

import org.apache.spark.sql.types.{LongType, StringType}

/** [[SparkEntry.t]]'s schema reuse: a table's inferred schema is reused
  * while its files and the parquet read confs are unchanged, and
  * re-inferred when either changes.
  */
class ScanSchemaSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs run while constructing the scan of `dir/name`, and the scan. */
  private def scan(dir: String, name: String): (Int, org.apache.spark.sql.DataFrame) = {
    var df: org.apache.spark.sql.DataFrame = null
    val (jobs, _) = countJobs { df = SparkEntry.t(spark, dir, name) }
    (jobs, df)
  }

  test("t: the second read of a path runs no job at construction") {
    val dir = tempDir("graft_scan_reuse").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/tbl.parquet")
    val (first, a) = scan(dir, "tbl")
    val (second, b) = scan(dir, "tbl")
    assert(first == 1, "the first read infers the schema in one job")
    assert(second == 0)
    assert(b.schema == a.schema)
    assert(b.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // a parquet read conf is part of the key, and a path keeps one
    // entry: setting the conf re-infers, and so does restoring it
    val key = "spark.sql.parquet.binaryAsString"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, (!spark.conf.get(key).toBoolean).toString)
      assert(scan(dir, "tbl")._1 == 1)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(scan(dir, "tbl")._1 == 1)
    assert(scan(dir, "tbl")._1 == 0)
  }

  test("t: a file rewritten at the same path with another schema is read with the new schema") {
    val dir = tempDir("graft_scan_rewrite").toString
    val path = s"$dir/tbl.parquet"
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    assert(scan(dir, "tbl")._2.schema.map(_.dataType) == Seq(LongType, StringType))
    Seq(("x", 7L, 8L)).toDF("name", "p", "q").write.mode("overwrite").parquet(path)
    val (jobs, df) = scan(dir, "tbl")
    assert(jobs == 1, "a rewritten file re-infers")
    assert(df.columns.toSeq == Seq("name", "p", "q"))
    assert(df.as[(String, Long, Long)].collect().toSeq == Seq(("x", 7L, 8L)))
  }

  test("t: flipping spark.sql.legacy.parquet.nanosAsLong re-infers") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a parquet TIMESTAMP(NANOS) column, which Spark reads as a BIGINT
    // only under nanosAsLong
    val dir = tempDir("graft_scan_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/ns.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally writer.close()

    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      assert(scan(dir, "ns")._2.schema("ts").dataType == LongType)
      assert(scan(dir, "ns")._1 == 0)
      spark.conf.set(key, "false")
      // re-inferred: without nanosAsLong Spark rejects the column type,
      // where a reused schema would have read it as a BIGINT
      intercept[org.apache.spark.sql.AnalysisException](SparkEntry.t(spark, dir, "ns"))
      // a failed inference keeps the entry, so the flip back reuses it
      spark.conf.set(key, "true")
      val (jobs, df) = scan(dir, "ns")
      assert(jobs == 0)
      assert(df.as[Long].collect().toSeq == Seq(1700000000123456789L))
    } finally spark.conf.set(key, before)
  }
}
