package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (one JVM-wide session; suites are
  * cheap to run against it). Built by [[GraftSession]], so the specs
  * run under the posture Verify and Bench run under, on 4 cores.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build("graft-test", cpus = 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
