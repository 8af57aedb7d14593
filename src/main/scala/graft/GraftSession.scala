package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured: every `main` and the
  * test session (`TestSpark`) call [[build]], so Verify certifies,
  * Bench times and the specs check results under the same posture.
  * A probe that A/Bs a conf sets it on the built session with
  * `spark.conf.set` (see `graft.Measure conf`).
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core of this machine. */
  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(appName: String, cpus: Int = defaultCpus): SparkSession = {
    val s = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // docs/SPILL_PROBE_r15.json: at the 0.5B-pair rung the planner's
      // sort-merge fallback SORTS the pair stream (59 GB spilled,
      // throughput halved). Preferring shuffled hash join where its
      // size conditions hold removed the sort and the spill. Broadcast
      // still wins where it applies.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // events.parquet carries timestamp[ns]; Spark 4 rejects NANOS
      // unless read as long (queries convert explicitly when needed).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Shuffle spill on a virtio disk is burst-throttled; tmpfs keeps
      // shuffle-heavy queries off the device. Spark's own
      // SPARK_LOCAL_DIRS overrides this.
      .config("spark.local.dir", "/dev/shm/graft-spark")
      // A driver GC pause can starve the in-process heartbeat RPC past
      // the default 10 s interval, and the executor then exits (code
      // 56). Wider spacing and a long network timeout keep a
      // stalled-but-alive JVM running.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
