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

  /** Spark jobs started while `body` runs, with their short call sites. */
  protected def countJobs(body: => Unit): (Int, Seq[String]) = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet()
        sites.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse(""))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener delivery is async: poll until the count is stable
      var (prev, stable) = (-1, 0)
      while (stable < 3) {
        Thread.sleep(100)
        val cur = counter.get()
        if (cur == prev) stable += 1 else { prev = cur; stable = 0 }
      }
      import scala.jdk.CollectionConverters._
      (counter.get(), sites.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
