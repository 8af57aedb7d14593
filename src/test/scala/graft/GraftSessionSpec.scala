package graft

import org.apache.spark.sql.functions._

class GraftSessionSpec extends SparkSpec {

  test("TestSpark carries the GraftSession posture") {
    val conf = spark.conf
    assert(conf.get("spark.sql.join.preferSortMergeJoin") == "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    val cores = "local\\[(\\d+)\\]".r
      .findFirstMatchIn(spark.sparkContext.master).map(_.group(1))
    assert(cores.contains("4"))
    assert(cores.contains(conf.get("spark.sql.shuffle.partitions")))
  }

  test("StageLog: jobs and shuffle write of a one-shuffle query") {
    val log = new graft.util.StageLog(spark.sparkContext)
    try {
      log.drain()
      val groups = spark.range(0, 10000, 1, 4)
        .groupBy((col("id") % 7).as("k")).count()
        .collect()
      assert(groups.length == 7)
      val (stages, jobs) = log.drain()
      // AQE runs the map side as its own job, then the result stage
      assert(jobs == 2)
      assert(stages.map(_.shuffleWrite).sum > 0)
      assert(stages.map(_.shuffleRead).sum > 0)
    } finally spark.sparkContext.removeSparkListener(log)
  }
}
