package graft.util

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.Bridge

/** The one per-stage evidence listener of the engine's mains (every
  * mode of [[graft.Measure]], through its query runner) — one
  * implementation of the stage log, the job counter, the
  * single-task-violation rule and the top-stage selection, so a metric
  * fix lands in every probe at once.
  *
  * Metrics per completed stage: task count, WALL ms (submission →
  * completion — for a 1-task stage queued behind a saturated executor
  * this is mostly FIFO wait), executor RUN ms (what the tasks actually
  * executed — the quantity the scale contracts are about), memory/disk
  * spill bytes (the SPILL_PROBE_r15 working-set-envelope evidence: a
  * stage whose tasks exceed the per-task working-set budget shows up
  * here, not in wall time, long before it falls over), shuffle
  * read/write bytes and input bytes. Jobs are counted as they start: a
  * query that fires many actions at construction (eager
  * localCheckpoint rounds) shows its fixed per-action overhead there.
  *
  * Constructing one registers it on `sc`.
  */
class StageLog(sc: SparkContext) extends SparkListener {

  final case class Stage(id: Int, tasks: Int, wallMs: Long, runMs: Long,
      memSpill: Long, diskSpill: Long,
      shuffleRead: Long, shuffleWrite: Long, input: Long) {
    def json: String =
      s"""{"id":$id,"tasks":$tasks,"sec":${wallMs / 1000.0},"run_sec":${runMs / 1000.0},"spill_mem_mb":${memSpill >> 20},"spill_disk_mb":${diskSpill >> 20}}"""
  }

  private val rows = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
  private val jobs = new java.util.concurrent.atomic.AtomicInteger(0)

  override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val info = sc.stageInfo
    val ms = (for { s <- info.submissionTime; c <- info.completionTime } yield c - s)
      .getOrElse(0L)
    val tm = info.taskMetrics
    rows.add(Stage(info.stageId, info.numTasks, ms, tm.executorRunTime,
      tm.memoryBytesSpilled, tm.diskBytesSpilled,
      tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
      tm.inputMetrics.bytesRead))
  }

  /** Snapshot and clear: the stages completed and the jobs started
    * since the last call. Waits first for the async listener bus to
    * deliver every event posted so far; a job posts its stage and job
    * end events before its action returns, so none are missed.
    */
  def drain(): (Seq[Stage], Int) = {
    Bridge.waitForListeners(sc)
    val out = scala.collection.mutable.ArrayBuffer[Stage]()
    var r = rows.poll()
    while (r != null) { out += r; r = rows.poll() }
    (out.toSeq, jobs.getAndSet(0))
  }

  /** The probes' hard assertion: a single-task stage that EXECUTED for
    * ≥ `minRunMs` is a serialization bug (tiny driver-sized aggregates
    * legitimately run 1 task; queue time is excluded by construction
    * because the test is on run time).
    */
  def singleTaskViolations(stages: Seq[Stage], minRunMs: Long = 10000L): Seq[Stage] =
    stages.filter(s => s.tasks == 1 && s.runMs >= minRunMs)

  /** Top `n` stages for the JSON artifact, ranked by max(wall, run) —
    * wall alone hid a run-time violation from the emitted evidence
    * (round-15 ADVICE) — with every VIOLATING stage force-included so
    * the artifact always carries what tripped the exit code. Returned
    * in stage-id order.
    */
  def topStages(stages: Seq[Stage], n: Int, minRunMs: Long = 10000L): Seq[Stage] = {
    val ranked = stages.sortBy(s => -math.max(s.wallMs, s.runMs)).take(n)
    (ranked ++ singleTaskViolations(stages, minRunMs)).distinct.sortBy(_.id)
  }

  sc.addSparkListener(this)
}
