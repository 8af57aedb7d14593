package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (one JVM-wide session; suites are
  * cheap to run against it). Built by [[GraftSession]], so the specs
  * run under the posture Verify and Bench run under, on 4 cores.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build("graft-test", cpus = 4)
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark

  private val tempDirs = scala.collection.mutable.ArrayBuffer[java.io.File]()

  /** A fresh temp dir, deleted with everything in it after the suite. */
  protected def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs += dir.toFile
    dir
  }

  override def afterAll(): Unit =
    try tempDirs.foreach(org.apache.commons.io.FileUtils.deleteDirectory)
    finally super.afterAll()

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
      Bridge.waitForListeners(spark.sparkContext) // delivery is async
      import scala.jdk.CollectionConverters._
      (counter.get(), sites.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
