package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * Spark listeners run on a bus thread; the traced run reads their
  * totals at the end of each pass, after the last job of the pass.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Janino compilations so far in this JVM, from Spark's codegen metrics.
  * Each one is a miss in the generated-class cache.
  */
object PerfbenchCodegen {
  def compiles: Long = metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
