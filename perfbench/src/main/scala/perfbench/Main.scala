package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchCodegen
import org.apache.spark.sql.SparkSession

/** The benchmark's measuring process. `perfbench/run.py` builds it and
  * starts it; see `perfbench/README.md` for the workloads and metrics.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <dir> --work <dir> [--smoke]`. With `--export <dir>` it instead
  * writes every mix query's output, oracle SQL and digest for the DuckDB
  * cross-check in `confirm_digests.py`.
  */
object Main {
  val Cores = 4
  val SetupRepeats = 3
  /** Warm-up passes before timing. The JIT keeps compiling for many
    * passes (1.5–3 CPU-s a pass on linkage even after ten), so "steady"
    * means past the steep part of the curve: the first pass takes 2–3×
    * a steady one, the second 1.2–1.5×, and linkage needs two more.
    */
  val WarmupPasses: Map[String, Int] = Map("linkage" -> 4, "ops_jobs" -> 3)

  /** A query mix: registry queries over the input tables of one scale. */
  final case class Mix(scale: String, queries: Seq[String])

  val Mixes: Map[String, Mix] = Map("ops_jobs" -> Mix("sf0.01", Seq("q_grid_cluster")))

  /** Seconds one pass took when the benchmark was defined (4 cores). The
    * timed section runs `ceil(seconds / nominal)` passes, at least three:
    * the work is fixed, so faster code finishes sooner.
    */
  val NominalPassS: Map[String, Double] = Map("linkage" -> 4.5, "ops_jobs" -> 3.0)

  /** Linkage size: `repl`× the 15,000-row base customer table. */
  val LinkageRepl = 3
  val SmokeLinkageRepl = 1

  def main(args: Array[String]): Unit = {
    val opts = args.indices.collect {
      case i if args(i).startsWith("--") && i + 1 < args.length && !args(i + 1).startsWith("--") =>
        args(i).drop(2) -> args(i + 1)
    }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val work = opts("work")
    val data = opts("data")
    val smoke = flags("smoke")
    def scaleDir(scale: String) = s"$data/${if (smoke) "sf0.001" else scale}"

    if (opts.contains("export")) {
      val scale = opts.getOrElse("scale", "sf0.01")
      export(opts("export"), work, scaleDir(scale),
        Mixes.values.filter(m => smoke || m.scale == scale).flatMap(_.queries).toSeq.sorted)
      return
    }

    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val expected = Json.readFlat(s"$data/expected.json")
    val passes =
      if (smoke) 1 else math.max(3, math.ceil(seconds / NominalPassS.getOrElse(workloadName, seconds)).toInt)

    val workload: Workload = workloadName match {
      case "linkage" =>
        val repl = if (smoke) SmokeLinkageRepl else LinkageRepl
        val base = if (smoke) "sf0.001" else "sf0.1"
        new Linkage(s"$data/$base", work, repl, seed,
          if (seed == 0) expected.get(s"linkage.$base.repl$repl.seed0.candidates").map(_.toLong) else None,
          perfectMatch = !smoke)
      case m if Mixes.contains(m) =>
        val mix = Mixes(m)
        val dir = scaleDir(mix.scale)
        val prefix = dir.split('/').last + "/"
        new QueryMix(mix.queries, dir, seed,
          expected.collect { case (k, v) if k.startsWith(prefix) => k.drop(prefix.length) -> v })
      case other =>
        System.err.println(s"unknown workload '$other'; known: linkage, ${Mixes.keys.toSeq.sorted.mkString(", ")}")
        sys.exit(2)
    }

    // Set-up: session start and input generation, several times (the
    // median counts), then the warm-up passes.
    var spark: SparkSession = null
    val setupTimes = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = Session.build(work)
      workload.prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val warmTimes = (1 to (if (smoke) 1 else WarmupPasses(workloadName))).map { i =>
      val t0 = System.nanoTime()
      val p = new Pass(-i, None, workload.stopOnFailure)
      workload.run(spark, p)
      p.errors.foreach(e => println(s"[warm-up] $e"))
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = warmTimes.sum
    val setupS = median(setupTimes) + warmS

    // Timed section. A traced run alternates untraced and traced passes
    // so that the two can be compared for the tracing overhead.
    val tracer = if (trace) Some(new Tracer(spark, Cores)) else None
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    final case class Done(pass: Pass, traced: Boolean, wallS: Double, cpuS: Double, compiles: Long,
        layers: Option[Tracer.PassLayers])
    val done = mutable.ArrayBuffer[Done]()
    val plan: Seq[Boolean] =
      if (!trace) Seq.fill(passes)(false)
      else (0 until passes).flatMap(i => if (i % 2 == 0) Seq(false, true) else Seq(true, false))
    val gc0 = gcTotals()
    plan.zipWithIndex.foreach { case (traced, i) =>
      val compiles0 = PerfbenchCodegen.compiles
      val t = tracer.filter(_ => traced)
      t.foreach(_.attach())
      val p = new Pass(i, t, workload.stopOnFailure)
      val c0 = cpuBean.getProcessCpuTime / 1e9 - compilerCpuS()
      val w0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      workload.run(spark, p)
      val wallS = (System.nanoTime() - n0) / 1e9
      val w1 = System.currentTimeMillis()
      val cpuS = cpuBean.getProcessCpuTime / 1e9 - compilerCpuS() - c0
      t.foreach(_.detach())
      val compiles = PerfbenchCodegen.compiles - compiles0
      done += Done(p, traced, wallS, cpuS, compiles, t.map(_.passLayers(i, w0, w1)))
      done.last.layers.foreach(_.ops.toSeq.sortBy(_._1).foreach { case (n, o) =>
        println(f"[op $i] $n%-28s ${o.seconds}%.3f s jobs ${o.jobs} exec_cpu ${o.execCpuS}%.3f s") })
      println(f"[pass $i${if (traced) " traced" else ""}] wall $wallS%.3f s cpu $cpuS%.3f s compiles $compiles " +
        p.latencies.map { case (n, s) => f"$n=$s%.3f" }.mkString(" "))
      p.errors.foreach(e => println(s"[pass $i] FAILED $e"))
    }

    val gc1 = gcTotals()
    val rssMb = peakRssMb()
    val heapMb = retainedHeapMb()
    println(f"[memory] retained heap $heapMb%.1f MB, peak RSS $rssMb%.1f MB; " +
      f"${gc1._1 - gc0._1} collections, ${(gc1._2 - gc0._2) / 1000.0}%.3f s in the timed passes")

    val measured = done.filter(d => !d.traced || !trace)
    val timed = if (trace) done.toSeq else measured.toSeq
    val attempted = timed.map(_.pass.attempted).sum
    val failed = timed.map(_.pass.failed).sum
    val latencies = measured.flatMap(d => workload.latencies(d.pass, d.wallS)).toSeq
    val wallS = median(measured.map(_.wallS).toSeq)
    val (tailQ, tail) = tailPercentile(latencies)

    val metrics: Seq[(String, Double, String)] = if (!trace) Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wallS, "s"),
      ("cpu_s", median(measured.map(_.cpuS).toSeq), "s"),
      ("retained_heap_mb", heapMb, "MB"))
    else perLayer(workload, spark, done.collect { case d if d.traced => (d.wallS, d.layers.get) }.toSeq,
      wallS) ++ Seq(
        ("query_tail_s", tail, "s"),
        ("codegen_compiles", median(done.filter(_.traced).map(_.compiles.toDouble).toSeq), "count"),
        ("peak_rss_mb", rssMb, "MB"))

    tracer.foreach { t =>
      val out = Paths.get(work, s"trace-$workloadName-seed$seed.jsonl")
      Files.write(out, t.allSpans.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      println(s"[trace] ${t.allSpans.size} spans written to $out")
    }
    println(f"[setup] repeats ${setupTimes.map(s => f"$s%.3f").mkString(" ")} s, warm-up ${warmTimes.map(s => f"$s%.3f").mkString(" ")} s")
    println(f"[summary] workload $workloadName seed $seed passes ${measured.size} ops $attempted " +
      f"failed $failed ops_failed_frac ${failed.toDouble / math.max(1, attempted)}%.4f " +
      f"tail = p${(tailQ * 100).toInt} of n=${latencies.size}")
    workload.counts.toSeq.sorted.foreach { case (k, v) => println(f"[count] $k $v%.6f") }
    workload match {
      case l: Linkage => println(s"[em] dM by iteration: ${l.emTrace}")
      case m: QueryMix => m.digests.foreach { case (q, d) => println(s"[digest] $q $d") }
      case _ =>
    }
    spark.stop()
    println(Json.result(failed == 0, attempted, failed, metrics))
  }

  /** Per-layer metrics of a traced run: medians over the traced passes. */
  private def perLayer(w: Workload, spark: SparkSession, traced: Seq[(Double, Tracer.PassLayers)],
      untracedWallS: Double): Seq[(String, Double, String)] = {
    def med(f: Tracer.PassLayers => Double) = median(traced.map(t => f(t._2)))
    val tracedWall = median(traced.map(_._1))
    val generic = Seq(
      "construct_s" -> "s", "construct_jobs" -> "count", "plan_s" -> "s", "jobs" -> "count",
      "stages" -> "count", "tasks" -> "count", "driver_gap_s" -> "s", "single_task_stages" -> "count",
      "exec_run_s" -> "s", "exec_cpu_s" -> "s", "exec_gc_s" -> "s", "shuffle_read_mb" -> "MB",
      "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "core_busy_frac" -> "fraction")
      .map { case (k, u) => (k, med(_.values(k)), u) }
    val op = (name: String, f: Tracer.OpLayers => Double) =>
      med(_.ops.get(name).map(f).getOrElse(0.0))
    val phases = Linkage.Phases.flatMap { ph =>
      val g = s"linkage.$ph"
      Seq((s"$g.s", op(g, _.seconds), "s"), (s"$g.jobs", op(g, _.jobs.toDouble), "count"),
        (s"$g.exec_cpu_s", op(g, _.execCpuS), "s"), (s"$g.shuffle_write_mb", op(g, _.shuffleWriteMb), "MB"))
    }
    val counts = w.counts ++ w.traceCounts(spark)
    val linkageCounts = Seq(
      "linkage.blocking.candidates" -> "count", "linkage.blocking.keep_ratio" -> "fraction",
      "linkage.patterns.distinct" -> "count", "linkage.em.final_delta" -> "fraction",
      "linkage.em.converged" -> "bool", "linkage.eval.precision" -> "fraction",
      "linkage.eval.recall" -> "fraction")
      .map { case (k, u) => (k, counts.getOrElse(k, 0.0), u) }
    // Candidates per second of the phases that assemble or compare pairs.
    val pairPhaseS = med(l => Seq("blocking", "patterns", "score")
      .map(ph => l.ops.get(s"linkage.$ph").fold(0.0)(_.seconds)).sum)
    val pairsPerS = counts.get("linkage.blocking.candidates")
      .filter(_ => pairPhaseS > 0).fold(0.0)(_ / pairPhaseS)
    val queries = Mixes.values.flatMap(_.queries).toSeq.sorted.flatMap { q =>
      Seq((s"q.$q.s", op(s"q.$q", _.seconds), "s"), (s"q.$q.jobs", op(s"q.$q", _.jobs.toDouble), "count"))
    }
    generic ++ Seq(("trace_overhead_pct", (tracedWall - untracedWallS) / untracedWallS * 100, "%")) ++
      phases ++ linkageCounts ++ Seq(("linkage.pairs_per_s", pairsPerS, "1/s")) ++ queries
  }

  /** Writes each mix query's output, oracle SQL and digest to `out`,
    * for `confirm_digests.py`.
    */
  private def export(out: String, work: String, scaleDir: String, names: Seq[String]): Unit = {
    val spark = Session.build(work)
    val digests = names.map { q =>
      graft.SparkEntry.queries(q)(spark, scaleDir).write.mode("overwrite").parquet(s"$out/$q")
      q -> Digest.of(spark.read.parquet(s"$out/$q"))
    }
    def write(file: String, kv: Seq[(String, String)]) =
      Files.write(Paths.get(out, file), Json.obj(kv).getBytes(StandardCharsets.UTF_8))
    write("oracle_sql.json", names.map(q => q -> graft.SparkEntry.oracleSql(q)))
    write("digests.json", digests)
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it
    * (nearest rank), as (quantile, value). Below 40 samples that
    * percentile lies under p75 and says little about the tail, so the
    * maximum is reported instead.
    */
  def tailPercentile(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 40) (1.0, s.lastOption.getOrElse(0.0))
    else (1.0 - 10.0 / s.size, s(s.size - 11))
  }

  /** CPU seconds used so far by the JIT compiler threads. They keep
    * compiling for many passes after warm-up, and their share varies from
    * run to run, so `cpu_s` leaves them out.
    */
  def compilerCpuS(): Double =
    Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty).map { t =>
      try {
        val comm = new String(Files.readAllBytes(Paths.get(t.getPath, "comm"))).trim
        if (!comm.matches("C[12] CompilerThre.*")) 0L
        else {
          val stat = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong // utime + stime, in clock ticks
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum / 100.0

  /** Heap in use after a full collection, in MB: what the process keeps
    * between operations (the session, the checkpointed inputs, Spark's
    * retained job and query history, and anything a pass leaks). The
    * second collection frees what Spark's context cleaner released after
    * the first.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Collections and milliseconds spent in them so far, all collectors. */
  def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.toArray(
      Array.empty[java.lang.management.GarbageCollectorMXBean])
    (beans.map(_.getCollectionCount).sum, beans.map(_.getCollectionTime).sum)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

object Session {
  /** `graft.Bench`'s session posture on `local[4]`, with every scratch
    * directory inside the benchmark's work directory.
    */
  def build(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Main.Cores}]")
      .config("spark.sql.shuffle.partitions", Main.Cores.toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Just enough JSON for the result line and the expected-digest file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{\n  ", ",\n  ", "\n}")

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s"${str(k)}: {${str("value")}: $num, ${str("unit")}: ${str(u)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Reads a flat `{"key": "value", ...}` object of strings. */
  def readFlat(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else {
      val text = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
    }
  }
}
