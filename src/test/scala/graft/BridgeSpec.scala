package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** `Bridge.countRows`, the one-job driver-sized count: the same rows and
  * counts as `groupBy(all columns).count()`, key normalization included.
  */
class BridgeSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("s", StringType), StructField("d", DoubleType),
    StructField("f", FloatType, nullable = false), StructField("b", BooleanType)))

  private val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
  private val otherNaNf = java.lang.Float.intBitsToFloat(0x7fc00123)

  // Every partition holds every key, so each key's count is merged from
  // all four tasks.
  private lazy val frame = {
    val keys = for {
      s <- Seq("x", "y", null)
      d <- Seq[java.lang.Double](0.0, -0.0, 1.5, Double.NaN, otherNaN, null)
      f <- Seq(0.0f, -0.0f, Float.NaN, otherNaNf, 2.0f)
      b <- Seq[java.lang.Boolean](true, false, null)
    } yield Row(s, d, f, b)
    val rows = spark.sparkContext.parallelize(0 until 4, 4).flatMap(p => keys ++ keys.take(p * 7))
    spark.createDataFrame(rows, schema).localCheckpoint(true)
  }

  /** A row with its floats as raw bits, so normalization is compared exactly. */
  private def bits(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case v => v
  }

  test("countRows equals groupBy(all).count() with keys repeated in every partition") {
    assert(frame.rdd.getNumPartitions == 4)
    val expected = frame.groupBy(frame.columns.map(col).toSeq: _*).count().collect()
      .map(r => (bits(Row.fromSeq(r.toSeq.init)), r.getLong(r.length - 1))).toSet
    val got = Bridge.countRows(frame, 1000, "test").map { case (r, n) => (bits(r), n) }
    assert(got.size == got.toSet.size)
    assert(got.toSet == expected)
    // -0.0 is 0.0 and both NaNs are one NaN, in both columns.
    assert(expected.size == 3 * 4 * 3 * 3)
    // A NULL is a key like any other.
    assert(got.exists { case (r, n) => r(0) == null && r(1) == null && r(3) == null && n > 4 })
  }

  test("countRows: one job, seen by query listeners as one execution") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = seen.add(funcName)
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = seen.add(s"failed $funcName")
    }
    val df = frame
    spark.listenerManager.register(listener)
    try {
      val (jobs, sites) = countJobs(Bridge.countRows(df, 1000, "test"))
      assert(jobs == 1, sites)
      Bridge.waitForListeners(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSeq == Seq("foldPartitions"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("countRows: more than maxRows distinct rows fails loudly, in a task or merged") {
    val e = intercept[IllegalArgumentException](
      Bridge.countRows(frame, 10, "keys should be few here"))
    assert(e.getMessage.contains("more than 10 distinct rows of (s, d, f, b)"))
    assert(e.getMessage.contains("keys should be few here"))
    // Each task sees one key, so only the driver's merge passes the bound.
    val onePerTask = spark.range(0, 4, 1, 4).select(col("id"))
    assert(Bridge.countRows(onePerTask, 4, "test").map(_._2) == Seq(1L, 1L, 1L, 1L))
    val merged = intercept[IllegalArgumentException](Bridge.countRows(onePerTask, 3, "test"))
    assert(merged.getMessage.contains("more than 3 distinct rows of (id)"))
  }
}
