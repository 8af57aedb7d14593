package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a call boundary. `parent` is the enclosing span's
  * id (0 for a pass). Times are epoch milliseconds so that they line up
  * with the scheduler's job and planning timestamps.
  */
final case class Span(id: Int, parent: Int, pass: Int, name: String, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
  def json: String =
    s"""{"id":$id,"parent":$parent,"pass":$pass,"name":"$name","start_ms":$startMs,"end_ms":$endMs}"""
}

/** Records what each traced pass cost, layer by layer.
  *
  * Spans come from the benchmark's own calls into the engine (one per
  * operation, with `construct` and `action` children). Every job the
  * operation submits carries the operation's name as its job group and
  * the child span's name and pass number as local properties, so the
  * scheduler listener can file jobs, stages and task metrics under the
  * span that caused them. Planning phases from the query-execution
  * listener are filed by time: the benchmark runs one client thread, so
  * at most one span is open at any moment.
  *
  * Listeners are attached only while a traced pass runs; untraced
  * passes run with none.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  private var stack = List.empty[(Int, String)]

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val plans = mutable.ArrayBuffer[(Long, Long)]() // (start ms, duration ms)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs(e.jobId) = JobRec(e.jobId, prop(GroupKey).getOrElse(""), prop(PartKey).getOrElse(""),
        prop(PassKey).map(_.toInt).getOrElse(-1), e.time, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val tm = si.taskMetrics
      if (tm != null) stages += StageRec(stageJob.getOrElse(si.stageId, -1), si.numTasks,
        tm.executorRunTime, tm.executorCpuTime, tm.jvmGCTime,
        tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
        tm.diskBytesSpilled)
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.values.foreach(p => plans += ((p.startTimeMs, p.durationMs)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** Runs `f` inside a span; with `group`, its jobs get that job group. */
  def span[T](pass: Int, name: String, group: Option[String] = None)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    stack = (id, name) :: stack
    group.foreach(g => sc.setJobGroup(g, g, interruptOnCancel = false))
    sc.setLocalProperty(PartKey, name)
    sc.setLocalProperty(PassKey, pass.toString)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      spans += Span(id, parent, pass, name, t0, System.currentTimeMillis())
      stack = stack.tail
      sc.setLocalProperty(PartKey, stack.headOption.map(_._2).orNull)
      if (stack.isEmpty) {
        sc.clearJobGroup()
        sc.setLocalProperty(PassKey, null)
      }
    }
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Layer metrics of one traced pass over `[startMs, endMs]`. */
  def passLayers(pass: Int, startMs: Long, endMs: Long): PassLayers = synchronized {
    val js = jobs.values.filter(_.pass == pass).toSeq
    val ids = js.map(_.id).toSet
    val ss = stages.filter(s => ids.contains(s.jobId)).toSeq
    val wall = (endMs - startMs) / 1000.0
    val busy = unionMs(js.map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs)))) / 1000.0
    val ps = spans.filter(_.pass == pass).toSeq
    val ops = ps.filter(_.parent == 0)
    def groupStats(g: String): OpLayers = {
      val gj = js.filter(_.group == g).map(_.id).toSet
      val gs = ss.filter(s => gj.contains(s.jobId))
      OpLayers(ops.filter(_.name == g).map(_.seconds).sum, gj.size,
        gs.map(_.cpuNs).sum / 1e9, gs.map(_.shWriteB).sum / MB)
    }
    val execRun = ss.map(_.runMs).sum / 1000.0
    PassLayers(
      values = Map(
        "construct_s" -> ps.filter(_.name == Construct).map(_.seconds).sum,
        "construct_jobs" -> js.count(_.part == Construct).toDouble,
        "plan_s" -> plans.filter { case (t, _) => t >= startMs && t <= endMs }.map(_._2).sum / 1000.0,
        "jobs" -> js.size.toDouble,
        "stages" -> ss.size.toDouble,
        "tasks" -> ss.map(_.numTasks.toLong).sum.toDouble,
        "driver_gap_s" -> (wall - busy),
        "single_task_stages" -> ss.count(_.numTasks == 1).toDouble,
        "exec_run_s" -> execRun,
        "exec_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        "exec_gc_s" -> ss.map(_.gcMs).sum / 1000.0,
        "shuffle_read_mb" -> ss.map(_.shReadB).sum / MB,
        "shuffle_write_mb" -> ss.map(_.shWriteB).sum / MB,
        "spill_mb" -> ss.map(_.spillB).sum / MB,
        "core_busy_frac" -> execRun / (wall * cores)),
      ops = ops.map(_.name).distinct.map(g => g -> groupStats(g)).toMap)
  }
}

object Tracer {
  val Construct = "construct"
  val Action = "action"
  private val GroupKey = "spark.jobGroup.id"
  private val PartKey = "perfbench.part"
  private val PassKey = "perfbench.pass"
  private val MB = 1024.0 * 1024.0

  final case class JobRec(id: Int, group: String, part: String, pass: Int, startMs: Long, endMs: Long)
  final case class StageRec(jobId: Int, numTasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shReadB: Long, shWriteB: Long, spillB: Long)
  final case class OpLayers(seconds: Double, jobs: Int, execCpuS: Double, shuffleWriteMb: Double)
  final case class PassLayers(values: Map[String, Double], ops: Map[String, OpLayers])

  /** Total length of the union of `[start, end]` intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
